"""``operators.mov_rms``'s NumPy kernel == Spark's single-window plan.

The reference below is the native plan the kernel replaced:
``sqrt(avg(value * value))`` over ``rowsBetween(-(n-1), 0)`` of a
``Window.partitionBy("channel_id").orderBy("t"[, tiebreak])``.  The
kernel must give the same rows with the same bits: every double, every
NULL and every NaN, under both group keys the planner can pick.
"""

import math
import struct
from collections import Counter

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import Window, functions as F

from pandas_sigproc_spark import planner
from pandas_sigproc_spark.operators import mov_rms

_SCHEMA = "channel_id string, t double, seq long, tag string, value double"


def native_mov_rms(df, window, samplerate, tiebreak_col=None, drop_last=True):
    """The single-window plan, as the package ran it before the kernel."""
    n = int(round(window * samplerate))
    order = [F.col("t")] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy("channel_id").orderBy(*order)
    out = (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "_n_tot",
            F.count("*").over(
                w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ),
        )
        .withColumn(
            "mov_rms",
            F.sqrt(F.avg(F.col("value") * F.col("value")).over(w.rowsBetween(-(n - 1), 0))),
        )
        .filter(F.col("_rn") >= n)
    )
    if drop_last:
        out = out.filter(F.col("_rn") < F.col("_n_tot"))
    return out.select(
        "channel_id",
        (F.col("t") - window / 2.0).alias("t"),
        F.col("mov_rms").alias("value"),
    )


def _bits(x):
    # NULL, NaN and the sign of zero all count; NaN payloads do not.
    if x is None:
        return None
    return "nan" if math.isnan(x) else struct.pack("<d", x)


def _rows(df):
    return Counter(
        (r["channel_id"], _bits(r["t"]), _bits(r["value"])) for r in df.collect()
    )


def _key_by(df, keying):
    """Make the planner pick ``keying`` for ``df`` without a stats job."""
    if keying == "channel":
        stats = planner.ChannelStats(2, planner.SMALL_CHANNEL_ROWS + 1, 1)
    else:
        stats = planner.ChannelStats(1000, 8, 8000)
    planner.register_stats(df, stats)


def _assert_same(df, keying, window, tiebreak_col, drop_last):
    _key_by(df, keying)
    got = mov_rms(df, window, 1.0, tiebreak_col=tiebreak_col, drop_last=drop_last)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert ("_b" in plan) == (keying == "bucket"), plan
    want = native_mov_rms(df, window, 1.0, tiebreak_col, drop_last)
    assert _rows(got) == _rows(want)


_values = st.one_of(
    # Millesimal values: squares and sums that round, so the fold order
    # shows in the bits.
    st.integers(-10**6, 10**6).map(lambda i: i / 1e3),
    st.floats(-1e3, 1e3, allow_nan=False),
    st.sampled_from([None, math.nan, math.inf, -math.inf, 1e200, -0.0]),
)
# Ties, NULL, NaN and both zeros: the tiebreak column orders them.
_times = st.sampled_from([-0.0, 0.0, 0.5, 1.0, 1.5, 2.0, math.nan, None])


@st.composite
def _signals(draw):
    """Ragged channels (a NULL ``channel_id`` among them) with ``seq``
    unique in the whole table, so every ``(t, seq)`` order is total;
    ``tag`` is ``seq`` as a string of the same order."""
    ids = draw(
        st.lists(st.sampled_from(["a", "b", "c", None]), min_size=1, max_size=3, unique=True)
    )
    rows = []
    for cid in ids:
        size = draw(st.integers(1, 30))
        ts = draw(st.lists(_times, min_size=size, max_size=size))
        vs = draw(st.lists(_values, min_size=size, max_size=size))
        rows += [(cid, t, v) for t, v in zip(ts, vs)]
    seq = draw(st.permutations(range(len(rows))))
    return [(cid, t, s, f"{s:03d}", v) for (cid, t, v), s in zip(rows, seq)]


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=_signals(),
    n=st.integers(1, 12),
    drop_last=st.booleans(),
    keying=st.sampled_from(["channel", "bucket"]),
    tiebreak=st.sampled_from(["seq", "tag"]),
)
def test_kernel_matches_window_plan(spark, rows, n, drop_last, keying, tiebreak):
    df = spark.createDataFrame(rows, _SCHEMA)
    _assert_same(df, keying, float(n), tiebreak, drop_last)


@pytest.mark.parametrize("keying", ["channel", "bucket"])
@pytest.mark.parametrize(("n", "drop_last"), [(1, True), (7, False), (100, True)])
def test_kernel_matches_window_plan_without_tiebreak(spark, keying, n, drop_last):
    # Unique times per channel (no tiebreak needed), shuffled on the way
    # in, ragged lengths up to 300 and one channel shorter than n = 100.
    rng = np.random.default_rng(n)
    rows = []
    for cid, size in (("x", 300), ("y", 123), ("z", 60), (None, 5)):
        t = rng.permutation(size) / 8.0
        v = rng.standard_normal(size) * 10.0 ** rng.integers(-3, 4, size)
        v[rng.random(size) < 0.05] = np.nan
        rows += [(cid, float(a), i, "", float(b)) for i, (a, b) in enumerate(zip(t, v))]
    rows = [rows[i] for i in rng.permutation(len(rows))]
    df = spark.createDataFrame(rows, _SCHEMA).select("channel_id", "t", "value")
    _assert_same(df, keying, float(n), None, drop_last)
