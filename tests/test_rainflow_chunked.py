"""Segmented rainflow (4-point fulls + residue merge) == whole-channel
E1049 counting, for every binning mode (SURVEY.md §7.3.1 hard part 2)."""

import numpy as np
import pandas as pd
import pytest

from pandas_sigproc_spark.operators import rainflow, rainflow_chunked
from tests.conftest import make_signals


@pytest.fixture(scope="module")
def fatigue(spark):
    rng = np.random.default_rng(21)
    chans = {}
    for cid, n in [("x", 20_000), ("y", 7_777), ("tiny", 3)]:
        t = np.arange(n, dtype=np.float64)
        chans[cid] = (t, rng.standard_normal(n).round(2))
    return make_signals(spark, chans)


def _counts(df):
    pdf = df.toPandas().sort_values(["channel_id", "bin"]).reset_index(drop=True)
    return [
        (r["channel_id"], round(r["bin"], 9), round(r["cycles"], 9))
        for _, r in pdf.iterrows()
    ]


@pytest.mark.parametrize(
    "kwargs",
    [dict(ndigits=2), dict(nbins=10), dict(binsize=0.7), dict()],
    ids=["ndigits", "nbins", "binsize", "raw"],
)
def test_chunked_equals_whole(spark, fatigue, kwargs):
    whole = _counts(rainflow(fatigue, **kwargs))
    seg = _counts(rainflow_chunked(fatigue, chunk_rows=1024, **kwargs))
    assert seg == whole


def test_null_channel_id_is_a_channel(spark, fatigue):
    # the chunked plan keys by channel_id, which keeps a NULL id as a
    # group; the whole-channel body counts it too, under both keyings
    n = 500
    null = spark.createDataFrame(
        pd.DataFrame({
            "channel_id": [None] * n,
            "t": np.arange(n, dtype=np.float64),
            "value": np.random.default_rng(5).standard_normal(n).round(2),
        }),
        "channel_id string, t double, value double",
    )
    df = fatigue.select("channel_id", "t", "value").unionByName(null)
    want = _counts(rainflow_chunked(df, chunk_rows=4096, ndigits=2))
    assert any(cid is None for cid, _, _ in want)
    for nb in (None, 2):
        assert _counts(rainflow(df, ndigits=2, n_buckets=nb)) == want


def test_chunk_size_invariance(spark, fatigue):
    a = _counts(rainflow_chunked(fatigue, chunk_rows=100, ndigits=2))
    b = _counts(rainflow_chunked(fatigue, chunk_rows=50_000, ndigits=2))
    assert a == b


def test_mutually_exclusive_kwargs(spark, fatigue):
    with pytest.raises(ValueError, match="at most one"):
        rainflow_chunked(fatigue, chunk_rows=1024, ndigits=2, nbins=5)


def test_repeated_calls_cache_nothing(spark, fatigue):
    # stage 1 feeds one keyed stage-2 pass: no cached frame per call, and
    # exactly two Python nodes (stage 1, stage 2) with no union between
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    for _ in range(3):
        out = rainflow_chunked(fatigue, chunk_rows=1024, nbins=10)
        out.count()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert after == before
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 2, plan
    assert "Union" not in plan and "InMemory" not in plan, plan
