"""Overlap-chunked window ops == single-window plans.

The chunked plans (operators/windows.py module docstring) bound task
memory for huge channels; these tests pin their equality contract:
bit-identical for mov_rms (a window's sum depends on its own samples
only) and derivative (row-local arithmetic), association-rounding for
integral, and agg-vs-window for detrend.
"""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandas_sigproc_spark import planner
from pandas_sigproc_spark.operators import (
    derivative,
    detrend,
    filt_butter,
    get_psd,
    integral,
    interp1d_native,
    mov_rms,
    rainflow,
    rainflow_chunked,
    resample,
)
from tests.conftest import make_signals


@pytest.fixture(scope="module")
def uniform(spark):
    # Two uniform channels at DIFFERENT rates (the chunked index is
    # per-channel) with lengths that are not chunk multiples.
    rng = np.random.default_rng(7)
    t_a = np.arange(5000) / 100.0
    t_b = np.arange(3001) / 250.0
    return make_signals(
        spark,
        {
            "a": (t_a, rng.standard_normal(5000).round(2)),
            "b": (t_b, (np.sin(t_b * 3.0) * 10).round(2)),
        },
    ).select("channel_id", "t", "value")


def _rows(df):
    pdf = df.toPandas().sort_values(["channel_id", "t"]).reset_index(drop=True)
    return pdf


def test_mov_rms_chunked_bit_exact(uniform):
    base = _rows(mov_rms(uniform, 0.1, 100.0, chunk_rows=None))
    # chunk length deliberately not a divisor of either channel length
    chunk = _rows(mov_rms(uniform, 0.1, 100.0, chunk_rows=257))
    # NOTE: window=0.1 @ sr=100 -> n=10 for both channels (n is declared
    # globally, per reference semantics; the INDEX is per-channel).
    assert len(base) == len(chunk) > 0
    assert (base["channel_id"] == chunk["channel_id"]).all()
    assert np.array_equal(base["t"].to_numpy(), chunk["t"].to_numpy())
    assert np.array_equal(base["value"].to_numpy(), chunk["value"].to_numpy())


def test_mov_rms_chunked_n1_and_droplast(uniform):
    for drop_last in (True, False):
        base = _rows(
            mov_rms(uniform, 0.01, 100.0, chunk_rows=None, drop_last=drop_last)
        )
        chunk = _rows(
            mov_rms(uniform, 0.01, 100.0, chunk_rows=512, drop_last=drop_last)
        )
        assert np.array_equal(base["value"].to_numpy(), chunk["value"].to_numpy())


def test_mov_rms_chunked_nulls_and_nans_across_boundary(spark):
    # NULL and NaN values on both sides of the chunk boundaries at 256
    # and 512, and a run of NULLs longer than the window across 512 (its
    # frames have no non-NULL row, so their value is NULL).
    values = np.sin(np.arange(1000) * 0.1)
    rows = [("u", i / 100.0, float(v)) for i, v in enumerate(values)]
    nulls = {250, 254, 257, 259, *range(505, 521)}
    for i, v in {252: math.nan, 258: math.nan, 600: math.inf}.items():
        rows[i] = ("u", i / 100.0, v)
    rows = [(c, t, None if i in nulls else v) for i, (c, t, v) in enumerate(rows)]
    df = spark.createDataFrame(rows, "channel_id string, t double, value double")

    def bits(r):
        v = r["value"]
        return (r["t"], None if v is None else "nan" if math.isnan(v) else v)

    for drop_last in (True, False):
        base = mov_rms(df, 0.1, 100.0, chunk_rows=None, drop_last=drop_last)
        chunk = mov_rms(df, 0.1, 100.0, chunk_rows=256, drop_last=drop_last)
        a = sorted(map(bits, base.collect()))
        assert a == sorted(map(bits, chunk.collect()))
        kinds = {v if v in (None, "nan") else math.isinf(v) for _, v in a}
        assert kinds == {None, "nan", True, False}


def test_integral_chunked_matches(uniform):
    base = _rows(integral(uniform, chunk_rows=None))
    chunk = _rows(integral(uniform, chunk_rows=300))
    assert len(base) == len(chunk)
    np.testing.assert_allclose(
        base["value"].to_numpy(), chunk["value"].to_numpy(), rtol=1e-12, atol=1e-12
    )


def test_integral_chunked_deterministic(uniform):
    a = _rows(integral(uniform, chunk_rows=300))["value"].to_numpy()
    b = _rows(integral(uniform, chunk_rows=300))["value"].to_numpy()
    assert np.array_equal(a, b)


def test_derivative_chunked_bit_exact(uniform):
    base = _rows(derivative(uniform, chunk_rows=None))
    chunk = _rows(derivative(uniform, chunk_rows=257))
    assert len(base) == len(chunk) > 0
    assert np.array_equal(base["t"].to_numpy(), chunk["t"].to_numpy())
    assert np.array_equal(base["value"].to_numpy(), chunk["value"].to_numpy())


def test_chunk_exact_multiple_length(spark):
    # channel length an exact multiple of chunk_rows: boundary/last-row
    # arithmetic (least(_n-1, (seg+1)*L-1)) must not duplicate or drop.
    t = np.arange(1024) / 64.0
    df = make_signals(spark, {"m": (t, np.cos(t))}).select(
        "channel_id", "t", "value"
    )
    for op, kw in ((integral, {}), (derivative, {}), (mov_rms, {})):
        args = (0.125, 64.0) if op is mov_rms else ()
        base = _rows(op(df, *args, chunk_rows=None))
        chunk = _rows(op(df, *args, chunk_rows=256))
        assert len(base) == len(chunk)
        np.testing.assert_allclose(
            base["value"].to_numpy(), chunk["value"].to_numpy(), rtol=1e-12
        )


def test_detrend_agg_matches_window(uniform):
    for dt_type in ("constant", "linear"):
        w = _rows(detrend(uniform, dt_type, mode="window"))
        a = _rows(detrend(uniform, dt_type, mode="agg"))
        np.testing.assert_allclose(
            w["value"].to_numpy(), a["value"].to_numpy(), rtol=1e-9, atol=1e-9
        )


def test_chunk_guard_raises_on_non_uniform(spark):
    # duplicate timestamps -> duplicate arithmetic index -> loud error,
    # never silent mis-framed output.
    t = np.arange(600) / 100.0
    t[300] = t[299]  # duplicate
    df = make_signals(spark, {"j": (t, np.ones(600))}).select(
        "channel_id", "t", "value"
    )
    with pytest.raises(Exception, match="non-consecutive sample index"):
        mov_rms(df, 0.05, 100.0, chunk_rows=128).collect()
    with pytest.raises(Exception, match="non-consecutive sample index"):
        integral(df, chunk_rows=128).collect()


def test_auto_selects_chunked_for_huge(uniform):
    # Fake catalog stats above the HUGE threshold: auto mode must route
    # to the chunked plan (visible as the explode in the physical plan)
    # and still produce the single-window answer.
    planner.register_stats(
        uniform,
        planner.ChannelStats(
            n_channels=2,
            max_rows=planner.HUGE_CHANNEL_ROWS + 1,
            total_rows=planner.HUGE_CHANNEL_ROWS + 1,
        ),
    )
    try:
        out = mov_rms(uniform, 0.1, 100.0)  # chunk_rows="auto"
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "explode" in plan.lower() or "generate" in plan.lower()
        base = _rows(mov_rms(uniform, 0.1, 100.0, chunk_rows=None))
        auto = _rows(out)
        assert np.array_equal(base["value"].to_numpy(), auto["value"].to_numpy())
        # detrend auto: huge stats -> the agg plan (no Window in the plan)
        dplan = (
            detrend(uniform, "linear")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "window" not in dplan.lower()
    finally:
        planner.invalidate_stats(uniform)


def test_auto_keeps_window_plan_for_small(uniform):
    planner.invalidate_stats()
    out = mov_rms(uniform, 0.1, 100.0)  # auto; stats say small
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "generate" not in plan.lower()


def test_detrend_piecewise_agg_matches_window(uniform):
    bps = [700, 2200]
    w = _rows(detrend(uniform, "linear", breakpoints=bps))
    a = _rows(detrend(uniform, "linear", breakpoints=bps, uniform_grid=True))
    assert len(w) == len(a)
    np.testing.assert_allclose(
        w["value"].to_numpy(), a["value"].to_numpy(), rtol=1e-9, atol=1e-9
    )
    # no Window operator in the agg plan ("window" also appears inside
    # the guard's own error-message literal, so match the node spelling)
    plan = (
        detrend(uniform, "linear", breakpoints=bps, uniform_grid=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "windowspecdefinition" not in plan.lower()


def test_detrend_piecewise_agg_guard(spark):
    t = np.sort(np.random.default_rng(0).uniform(0, 10, 500))
    df = make_signals(spark, {"nu": (t, np.ones(500))}).select(
        "channel_id", "t", "value"
    )
    with pytest.raises(Exception, match="not on a uniform time grid"):
        detrend(df, "linear", breakpoints=[100], uniform_grid=True).collect()


def test_chunked_src_joins_no_segment_past_the_end(spark):
    # 1,000 samples in chunks of 256 with 99 halo rows: 1,000 core rows
    # plus the tails of chunks 0-2 (3 x 99).  Chunk 3's tail has no
    # chunk 4 to join.
    t = np.arange(1000) / 100.0
    df = make_signals(spark, {"c": (t, np.ones(1000))}).select(
        "channel_id", "t", "value"
    )
    src = planner.chunked_src(df, 256, back=99, fwd=0).toPandas()
    assert len(src) == 1297
    assert sorted(src["_seg"].unique()) == [0, 1, 2, 3]
    core = src[src["_core"]]
    assert len(core) == 1000
    assert (core["_i"] // 256 == core["_seg"]).all()


def test_chunk_zero_span_channel_is_loud(spark):
    t = np.full(50, 3.0)
    df = make_signals(spark, {"z": (t, np.ones(50))}).select(
        "channel_id", "t", "value"
    )
    with pytest.raises(Exception, match="zero time span"):
        integral(df, chunk_rows=16).collect()


# ---------------------------------------------------------------------------
# round-5 review fixes: auto-mode never fails a call the window plan accepts
# ---------------------------------------------------------------------------


def test_auto_grows_chunk_when_overlap_exceeds_planner_size(spark):
    from pandas_sigproc_spark import planner
    from pandas_sigproc_spark.planner import resolve_chunk_rows

    df = spark.range(1).select(
        F.lit("c").alias("channel_id"),
        F.col("id").cast("double").alias("t"),
        F.lit(0.0).alias("value"),
    )
    planner.register_stats(
        df, planner.ChannelStats(n_channels=1, max_rows=5_000_000,
                                 total_rows=5_000_000)
    )
    try:
        base = planner.HUGE_CHANNEL_ROWS // 4
        # modest overlap: planner size wins
        assert resolve_chunk_rows(df, "auto", overlap=1000) == base
        # warm-up overlap >= planner chunk: grow to 4x overlap instead of
        # raising "chunk_rows must exceed the window overlap"
        big = base + 7
        assert resolve_chunk_rows(df, "auto", overlap=big) == 4 * big
        # tiebreak routes auto back to the sort-based window plan
        assert (
            resolve_chunk_rows(df, "auto", overlap=10, tiebreak_col="seq")
            is None
        )
    finally:
        planner.invalidate_stats(df)
    # explicit chunk size + tiebreak is a contradiction -> loud error
    with pytest.raises(ValueError, match="tiebreak_col"):
        resolve_chunk_rows(df, 1024, tiebreak_col="seq")


def test_mov_rms_auto_with_giant_window_falls_back_not_raises(spark):
    # A window whose warm-up exceeds the planner chunk size must still
    # run end-to-end in auto mode (grown chunk), bit-equal to the global
    # plan.
    from pandas_sigproc_spark import planner
    from pandas_sigproc_spark.operators.windows import mov_rms

    n = 4000
    pdf = pd.DataFrame(
        {
            "channel_id": "big",
            "t": np.arange(n) / 100.0,
            "value": np.sin(np.arange(n) * 0.01),
        }
    )
    df = spark.createDataFrame(pdf)
    # force chunking with a chunk smaller than the warm-up via the
    # resolver's growth rule: register stats saying the channel is huge
    planner.register_stats(
        df, planner.ChannelStats(n_channels=1, max_rows=10_000_000,
                                 total_rows=10_000_000)
    )
    try:
        auto = mov_rms(df, window=30.0, samplerate=100.0).toPandas()
    finally:
        planner.invalidate_stats(df)
    ref = mov_rms(df, window=30.0, samplerate=100.0, chunk_rows=None).toPandas()
    auto = auto.sort_values("t").reset_index(drop=True)
    ref = ref.sort_values("t").reset_index(drop=True)
    assert (auto["value"].to_numpy() == ref["value"].to_numpy()).all()


def test_detrend_piecewise_agg_single_row_channel(spark):
    # 1-row channels must not hit DIVIDE_BY_ZERO in the span division
    # (ANSI Spark) — they detrend to 0.0 like the window form.
    from pandas_sigproc_spark.operators.windows import _detrend_piecewise_agg

    pdf = pd.DataFrame(
        {
            "channel_id": ["a"] * 100 + ["single"],
            "t": list(np.arange(100) / 10.0) + [0.0],
            "value": list(np.arange(100.0)) + [42.0],
        }
    )
    out = _detrend_piecewise_agg(
        spark.createDataFrame(pdf), [50]
    ).toPandas()
    single = out[out["channel_id"] == "single"]
    assert len(single) == 1
    assert abs(single["value"].iloc[0]) < 1e-12


def test_chunked_spline_single_row_channel_raises_kernel_error(spark):
    # Degenerate 1-knot channel under the chunked spline plan: the task
    # must fail with the kernel's own 'at least' message (same loud
    # error as the global plan), not an ANSI DIVIDE_BY_ZERO.
    from pandas_sigproc_spark.operators.interp_spline import interp1d_spline

    src = spark.createDataFrame(
        pd.DataFrame(
            {
                "channel_id": ["a"] * 64 + ["one"],
                "t": list(np.arange(64.0)) + [0.0],
                "value": list(np.sin(np.arange(64.0))) + [1.0],
            }
        )
    )
    grid = spark.createDataFrame(
        pd.DataFrame(
            {
                "channel_id": ["a", "one"],
                "t": [10.5, 0.0],
            }
        )
    )
    with pytest.raises(Exception, match="at least|DIVIDE") as ei:
        interp1d_spline(src, grid, kind="cubic", chunk_rows=128).count()
    assert "DIVIDE" not in str(ei.value)


def test_null_channel_id_survives_chunked_and_agg_plans(spark):
    # The NULL-id channel is a group of its own in every whole-channel
    # and window plan; the chunked, agg and segmented plans join
    # per-channel aggregates back onto the rows, and must keep it too.
    rng = np.random.default_rng(3)
    t = np.arange(1000) / 100.0
    rows = [
        (cid, float(ti), float(v))
        for cid in ("a", None)
        for ti, v in zip(t, (np.sin(t * 2.0) + rng.standard_normal(t.size)).round(3))
    ]
    df = spark.createDataFrame(rows, "channel_id string, t double, value double")

    def by_channel(out):
        pdf = out.toPandas()
        pdf["channel_id"] = pdf["channel_id"].fillna("<null>")
        cols = [c for c in pdf.columns if c != "channel_id"]
        return {
            cid: g.sort_values(cols)[cols].to_numpy()
            for cid, g in pdf.groupby("channel_id")
        }

    grid = df.select("channel_id", (F.col("t") + 0.005).alias("t"))

    def psd(segmented):
        return get_psd(
            df, window_length=2.56, summarize="max rms", segmented=segmented,
            samplerate=100.0, n_buckets=None,
        )

    pairs = {
        "mov_rms": (
            mov_rms(df, 0.1, 100.0, chunk_rows=None),
            mov_rms(df, 0.1, 100.0, chunk_rows=128),
        ),
        "derivative": (
            derivative(df, chunk_rows=None),
            derivative(df, chunk_rows=128),
        ),
        "integral": (integral(df, chunk_rows=None), integral(df, chunk_rows=128)),
        "filt_butter": (
            filt_butter(df, 20.0, 2, "lowpass", n_buckets=None, samplerate=100.0),
            # the filter's settling overlap (276 rows) needs longer chunks
            filt_butter(
                df, 20.0, 2, "lowpass", n_buckets=None, chunk_rows=400,
                samplerate=100.0,
            ),
        ),
        "detrend": (detrend(df, mode="window"), detrend(df, mode="agg")),
        "get_psd": (psd(False), psd(True)),
        "resample": (
            resample(df, sample_rate=30.0, chunk_rows=None),
            resample(df, sample_rate=30.0, chunk_rows=128),
        ),
        "rainflow": (
            rainflow(df, n_buckets=None),
            rainflow_chunked(df, chunk_rows=128),
        ),
        "interp1d_native": (
            interp1d_native(df, grid, chunk_rows=None),
            interp1d_native(df, grid, chunk_rows=128),
        ),
    }
    for op, (whole, split) in pairs.items():
        want, got = by_channel(whole), by_channel(split)
        assert set(got) == set(want) == {"a", "<null>"}, (op, set(got))
        for cid in want:
            assert got[cid].shape == want[cid].shape, (op, cid)
            np.testing.assert_allclose(
                got[cid], want[cid], rtol=1e-12, atol=1e-9, err_msg=f"{op} {cid}"
            )
