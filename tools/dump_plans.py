"""Dump .explain('formatted') for named queries to plans/r15/<q>_<tag>.txt."""
import os, sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as E
from pandas_sigproc_spark.session import get_spark

tag = sys.argv[1]
names = sys.argv[2:]
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("dump_plans")
spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
qs = E.queries()
out_dir = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("SPARK_GRAFT_PLANS_DIR", "r16"),
)
os.makedirs(out_dir, exist_ok=True)
for name in names:
    df = qs[name](spark, sf_dir)
    txt = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
        f.write(txt)
    E.release_caches()
    print("dumped", name)
