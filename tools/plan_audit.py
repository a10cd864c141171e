"""Physical-plan audit for the headline queries.

Prints one line per bench query: shuffle exchange count, broadcast
exchange count, Python-UDF plan nodes (FlatMapGroupsInPandas /
MapInPandas), and whether the deepest parquet scan carries pushed
filters — the four things to check before believing a plan scales
(SURVEY.md "Optimize for scale").  Usage:

    python tools/plan_audit.py [query ...]      # default: bench HEADLINE
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from bench import HEADLINE
from pandas_sigproc_spark.session import get_spark, host_cpus


#: Every shuffle exchange; shufflepartitionidpassthrough is the bucketed
#: kernels' id-placed one (planner.group_apply).
SHUFFLE = re.compile(
    r"Exchange (hashpartitioning|rangepartitioning|shufflepartitionidpassthrough)"
)


def audit(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "shuffle_exchanges": len(SHUFFLE.findall(plan)),
        "broadcasts": plan.count("BroadcastExchange"),
        "py_udf_nodes": plan.count("FlatMapGroupsInPandas")
        + plan.count("FlatMapCoGroupsInPandas")
        + plan.count("MapInPandas"),
        "pushed_filters": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
        "codegen": plan.count("WholeStageCodegen") > 0 or "*(" in plan,
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    names = sys.argv[1:] or HEADLINE
    spark = get_spark("plan_audit", cpus=host_cpus())
    spark.sparkContext.setLogLevel("ERROR")
    # registry slots, and every plan a slot folds under its q_* name
    qs = {
        **entry_mod.queries(),
        **{k[2:]: fn for k, fn in vars(entry_mod).items() if k.startswith("q_")},
    }
    w = max(len(n) for n in names)
    print(f"{'query':<{w}}  shuffles  bcasts  py_udf  pushdown")
    for name in names:
        a = audit(qs[name](spark, sf_dir))
        print(
            f"{name:<{w}}  {a['shuffle_exchanges']:>8}  {a['broadcasts']:>6}  "
            f"{a['py_udf_nodes']:>6}  {'yes' if a['pushed_filters'] else 'no':>8}"
        )


if __name__ == "__main__":
    main()
