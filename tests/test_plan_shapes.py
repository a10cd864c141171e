"""Plan-shape regression tests: the scale properties the engine claims
(map-side = zero shuffles, broadcast dims, single fused UDF node) are
asserted on the physical plan so a refactor can't silently trade them
away.  Complements tools/plan_audit.py (human report) with hard gates.
"""

import re
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan: str) -> int:
    # shufflepartitionidpassthrough: the bucketed kernels' id-placed exchange
    kinds = "hashpartitioning|rangepartitioning|shufflepartitionidpassthrough"
    return len(re.findall(rf"Exchange ({kinds})", plan))


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
    plan = _plan(qs[name](spark, SF))
    assert _shuffles(plan) == 0, f"{name} grew a shuffle:\n{plan}"


@pytest.mark.parametrize("name", ["tpch_revenue_join", "tpch_local_supplier"])
def test_tpch_joins_broadcast_dims_one_shuffle(spark, qs, name):
    plan = _plan(qs[name](spark, SF))
    assert plan.count("BroadcastExchange") >= 1, name
    assert _shuffles(plan) <= 1, f"{name} shuffles > 1:\n{plan}"


@pytest.mark.parametrize(
    # r15: filt_butter is a COMPOSED gate (global + overlap-save chunked
    # arm under one 'path'-marked union) — one UDF node per arm is the
    # designed shape; the production planner still picks a single arm.
    ("name", "n_udf"),
    [("filt_butter", 2), ("filt_chain", 1), ("psd_welch", 1), ("srs", 1)],
)
def test_kernel_queries_single_udf_node(spark, qs, name, n_udf):
    plan = _plan(qs[name](spark, SF))
    n = plan.count("FlatMapGroupsInPandas") + plan.count("MapInPandas")
    assert n == n_udf, f"{name} has {n} Python UDF nodes:\n{plan}"
    # the id-placed exchange into the bucketed UDF, plus one channel_id
    # hash repartition per arm upstream (the input read); filt_butter's
    # chunked arm reads its input a second time for the per-channel
    # MIN/MAX/COUNT aggregate its sort-free sample index is built from
    n_shuffle = {"filt_butter": 4}.get(name, 2)
    assert _shuffles(plan) == n_shuffle, f"{name} shuffles:\n{plan}"


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
