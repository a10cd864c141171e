"""Isolated leg timer: min-of-N walls through the noop sink per query.

Usage: python tools/time_legs.py [-n REPS] name [name ...]
Mirrors bench.py's methodology (build + execute inside the timer,
release_caches between reps) without the full-run harness.
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E
from pandas_sigproc_spark.session import get_spark, host_cpus

args = sys.argv[1:]
reps = 3
if args and args[0] == "-n":
    reps = int(args[1])
    args = args[2:]
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("time_legs", cpus=host_cpus())
spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
qs = E.queries()
# one warm-up job so the first leg doesn't pay JVM warm-up
spark.range(1_000_000).selectExpr("sum(id)").write.mode("overwrite").format(
    "noop"
).save()
for name in args:
    walls = []
    for _ in range(reps):
        E.release_caches()
        spark.sparkContext.setJobDescription(f"time_legs: {name}")
        t0 = time.time()
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        walls.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
    print(f"LEG {name} min={min(walls)} reps={walls}", flush=True)
