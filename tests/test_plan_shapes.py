"""Plan-shape regression tests: the scale properties the engine claims
(map-side = zero shuffles, broadcast dims, single fused UDF node, no
scale path sorting a whole channel) are asserted on the physical plan so
a refactor can't silently trade them away.  Shuffles are counted by
tools/plan_audit.py's ``audit``, the human report these gates harden.
"""

import re
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry_mod
from pandas_sigproc_spark.kernels.design import butter
from pandas_sigproc_spark.operators import (
    derivative,
    filt_chunked,
    get_psd,
    integral,
    interp1d_native,
    mov_rms,
    rainflow_chunked,
    resample,
)
from tools.plan_audit import audit

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(df) -> int:
    return audit(df)["shuffle_exchanges"]


@pytest.fixture(scope="module")
def qs():
    # Shapes are pinned per plan, so the plans that a registry slot folds
    # together are reached through their own q_* functions.
    return {k[2:]: fn for k, fn in vars(entry_mod).items() if k.startswith("q_")}


@pytest.mark.parametrize(
    "name", ["dedup_minhash", "dedup_simhash", "doc_fingerprint", "lang_id",
             "token_count", "quality_score", "text_stats"]
)
def test_mapside_text_ops_have_zero_shuffles(spark, qs, name):
    df = qs[name](spark, SF)
    assert _shuffles(df) == 0, f"{name} grew a shuffle:\n{_plan(df)}"


@pytest.mark.parametrize("name", ["tpch_revenue_join", "tpch_local_supplier"])
def test_tpch_joins_broadcast_dims_one_shuffle(spark, qs, name):
    df = qs[name](spark, SF)
    plan = _plan(df)
    assert plan.count("BroadcastExchange") >= 1, name
    assert _shuffles(df) <= 1, f"{name} shuffles > 1:\n{plan}"


@pytest.mark.parametrize(
    # r15: filt_butter is a COMPOSED gate (global + overlap-save chunked
    # arm under one 'path'-marked union) — one UDF node per arm is the
    # designed shape; the production planner still picks a single arm.
    ("name", "n_udf"),
    [("filt_butter", 2), ("filt_chain", 1), ("psd_welch", 1), ("srs", 1)],
)
def test_kernel_queries_single_udf_node(spark, qs, name, n_udf):
    df = qs[name](spark, SF)
    plan = _plan(df)
    n = plan.count("FlatMapGroupsInPandas") + plan.count("MapInPandas")
    assert n == n_udf, f"{name} has {n} Python UDF nodes:\n{plan}"
    # the id-placed exchange into the bucketed UDF, plus one channel_id
    # hash repartition per arm upstream (the input read); filt_butter's
    # chunked arm reads its input a second time for the per-channel
    # MIN/MAX/COUNT aggregate its sort-free sample index is built from
    n_shuffle = {"filt_butter": 4}.get(name, 2)
    assert _shuffles(df) == n_shuffle, f"{name} shuffles:\n{plan}"


def test_between_pushes_raw_ts_bounds(spark, qs):
    plan = _plan(qs["between"](spark, SF))
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(ts", plan), plan


def test_corpus_prep_scans_corpus_once(spark, qs):
    # The LSH signature table feeds three consumers; the persisted sig
    # caps the pipeline at ONE corpus scan (three InMemoryTableScan
    # readers of the same cache instead of three parquet re-scans).
    plan = _plan(qs["corpus_prep"](spark, SF))
    assert plan.count("InMemoryTableScan") == 3


def test_accessor_chain_single_udf_node(spark, qs):
    plan = _plan(qs["accessor_chain"](spark, SF))
    assert plan.count("FlatMapGroupsInPandas") == 1


# A Window node keyed on the channel and ordered by t: one task sorts the
# whole channel.
WHOLE_CHANNEL_SORT = re.compile(
    r"Window \[.*windowspecdefinition\(channel_id#\d+, t#\d+"
)


@pytest.fixture(scope="module")
def two_uniform(spark):
    n = 2000
    return spark.range(2 * n).select(
        F.when(F.col("id") < n, "a").otherwise("b").alias("channel_id"),
        ((F.col("id") % n) / 100.0).alias("t"),
        F.sin(F.col("id") * 0.37).alias("value"),
    )


_BA = butter(2, 0.2, "lowpass")
SCALE_PATHS = {
    "psd_segmented": lambda df: get_psd(
        df, window_length=2.56, samplerate=100.0, segmented=True, n_buckets=None
    ),
    "rainflow_chunked": lambda df: rainflow_chunked(df, chunk_rows=256),
    "mov_rms": lambda df: mov_rms(df, 0.1, 100.0, chunk_rows=256),
    "integral": lambda df: integral(df, chunk_rows=256),
    "derivative": lambda df: derivative(df, chunk_rows=256),
    "filt_chunked": lambda df: filt_chunked(
        df, *_BA, zero_phase=True, chunk_rows=256, overlap_rows=50,
        samplerate=100.0,
    ),
    "resample": lambda df: resample(df, sample_rate=30.0, chunk_rows=256),
    "interp1d_native": lambda df: interp1d_native(
        df, df.select("channel_id", (F.col("t") + 0.005).alias("t")),
        chunk_rows=256,
    ),
}


@pytest.mark.parametrize("name", list(SCALE_PATHS))
def test_no_scale_path_sorts_a_whole_channel(two_uniform, name):
    plan = _plan(SCALE_PATHS[name](two_uniform))
    assert not WHOLE_CHANNEL_SORT.search(plan), plan


def test_whole_channel_sort_pattern_finds_the_window_plan(two_uniform):
    plan = _plan(integral(two_uniform, chunk_rows=None))
    assert len(WHOLE_CHANNEL_SORT.findall(plan)) == 2, plan
