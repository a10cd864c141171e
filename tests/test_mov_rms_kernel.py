"""``operators.mov_rms``'s NumPy kernel against Spark's single-window plan.

The reference below is the native plan the kernel replaced:
``sqrt(avg(value * value))`` over ``rowsBetween(-(n-1), 0)`` of a
``Window.partitionBy("channel_id").orderBy("t"[, tiebreak])``.  Under
both group keys the planner can pick, the kernel must give

1. the same rows as that plan: every channel id and ``t`` bit, and
   which values are NULL, NaN or infinite;
2. every finite value within ``_rel_bound(n)`` relative of the exact
   frame root ``sqrt(fsum(v * v over the frame's non-NULL rows) /
   count)``.

The kernel sums frames by dyadic window sums, not Spark's left fold, so
the finite values are pinned to the exact root rather than to Spark's
bits.  The bound, with ``u = 2**-53`` and ``L = n.bit_length()``:

- both sides square each value with the same rounding;
- ``kernels.rolling.window_sums`` adds a frame's non-negative terms
  with at most ``L`` roundings on any path of its addition tree
  (block sums of depth below ``L``, the set-bit pieces joined smallest
  first), so the sum is within ``L * u`` relative to first order;
- the divide adds ``u``; the square root halves its argument's relative
  error and adds ``u``: ``((L + 1) / 2 + 1) * u``;
- the reference (correctly rounded fsum, divide, root) is within
  ``2 * u`` of the exact root.

That is ``(L + 7) / 2 * u`` in all; the pinned ``(L + 2) * 2**-51``
is 3x it at ``L = 1`` and near 8x for long windows.
"""

import math
import struct
from collections import Counter, defaultdict

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import Window, functions as F

from pandas_sigproc_spark import planner
from pandas_sigproc_spark.operators import mov_rms

_SCHEMA = "channel_id string, t double, seq long, tag string, value double"


def native_mov_rms(df, window, samplerate, tiebreak_col=None, drop_last=True):
    """The single-window plan, as the package ran it before the kernel,
    with each frame's non-NULL values as ``frame``."""
    n = int(round(window * samplerate))
    order = [F.col("t")] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy("channel_id").orderBy(*order)
    frame = w.rowsBetween(-(n - 1), 0)
    out = (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "_n_tot",
            F.count("*").over(
                w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ),
        )
        .withColumn(
            "mov_rms", F.sqrt(F.avg(F.col("value") * F.col("value")).over(frame))
        )
        .withColumn("frame", F.collect_list("value").over(frame))
        .filter(F.col("_rn") >= n)
    )
    if drop_last:
        out = out.filter(F.col("_rn") < F.col("_n_tot"))
    return out.select(
        "channel_id",
        (F.col("t") - window / 2.0).alias("t"),
        F.col("mov_rms").alias("value"),
        "frame",
    )


def _bits(x):
    # NULL, NaN and the sign of zero all count; NaN payloads do not.
    if x is None:
        return None
    return "nan" if math.isnan(x) else struct.pack("<d", x)


def _rel_bound(n):
    """The relative bound of the module docstring."""
    return (n.bit_length() + 2) * 2.0**-51


def _special(x):
    """``"null"``, ``"nan"``, ``"inf"`` or ``"-inf"``; ``""`` if finite."""
    if x is None:
        return "null"
    return repr(x) if math.isnan(x) or math.isinf(x) else ""


def _by_row(rows, value):
    """``{(channel_id, t bits): sorted [(special, value)]}``, ``value(r)``
    for the finite rows.  Tied ``t`` rows cannot be told apart, so each
    key holds a sorted list; sorting keeps a relative bound between the
    two sides' order statistics."""
    out = defaultdict(list)
    for r in rows:
        s = _special(r["value"])
        out[(r["channel_id"], _bits(r["t"]))].append((s, 0.0 if s else value(r)))
    return {k: sorted(v) for k, v in out.items()}


def _exact_root(frame):
    squares = [v * v for v in frame]
    return math.sqrt(math.fsum(squares) / len(squares))


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

    got_rows = _by_row(got.collect(), lambda r: r["value"])
    want_rows = _by_row(want.collect(), lambda r: _exact_root(r["frame"]))
    assert got_rows.keys() == want_rows.keys()
    bound = _rel_bound(int(round(window)))
    for key, want_vals in want_rows.items():
        got_vals = got_rows[key]
        assert [s for s, _ in got_vals] == [s for s, _ in want_vals], key
        for (_, g), (_, w) in zip(got_vals, want_vals):
            assert abs(g - w) <= bound * w, (key, g, w)


_values = st.one_of(
    # Millesimal values: squares and sums that round, so the summation
    # error shows against the exact root.
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


def _ragged(spark, seed):
    """Unique times per channel (no tiebreak needed), shuffled on the way
    in, ragged lengths up to 300 and one channel shorter than n = 100."""
    rng = np.random.default_rng(seed)
    rows = []
    for cid, size in (("x", 300), ("y", 123), ("z", 60), (None, 5)):
        t = rng.permutation(size) / 8.0
        v = rng.standard_normal(size) * 10.0 ** rng.integers(-3, 4, size)
        v[rng.random(size) < 0.05] = np.nan
        rows += [(cid, float(a), i, "", float(b)) for i, (a, b) in enumerate(zip(t, v))]
    rows = [rows[i] for i in rng.permutation(len(rows))]
    return spark.createDataFrame(rows, _SCHEMA).select("channel_id", "t", "value")


@pytest.mark.parametrize("keying", ["channel", "bucket"])
@pytest.mark.parametrize(("n", "drop_last"), [(1, True), (7, False), (100, True)])
def test_kernel_matches_window_plan_without_tiebreak(spark, keying, n, drop_last):
    _assert_same(_ragged(spark, n), keying, float(n), None, drop_last)


@pytest.mark.parametrize("n", [7, 100])
def test_keyings_give_the_same_bits(spark, n):
    # A frame's sum depends on its own rows only, so a channel alone and
    # laid end to end with others in a bucket gets the same bits.
    df = _ragged(spark, n)
    got = []
    for keying in ("channel", "bucket"):
        _key_by(df, keying)
        out = mov_rms(df, float(n), 1.0, drop_last=False)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("_b" in plan) == (keying == "bucket"), plan
        rows = out.collect()
        got.append(Counter((r["channel_id"], _bits(r["t"]), _bits(r["value"])) for r in rows))
    assert got[0] == got[1]
    assert sum(got[0].values()) > 0
