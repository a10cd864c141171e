"""Dump the STREAMING (pre-sink) physical plan of the stream-gate ops.

The gate queries return the sink read back as a batch DataFrame, so
``dump_plans.py`` on them shows only a parquet scan.  This tool builds
the same streaming DataFrame the gate's ``build`` lambda produces over a
file-source stream of the gate's source schema and dumps its
``explain`` — enough to verify the stateful-operator shape (one
FlatMapGroupsInPandasWithState / stateful exchange).

Usage: python tools/dump_stream_plans.py <tag> [rainflow|lfilter|corpus ...]
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from pandas_sigproc_spark.session import get_spark  # noqa: E402

tag = sys.argv[1]
names = sys.argv[2:] or ["rainflow", "lfilter", "corpus"]
spark = get_spark("dump_stream_plans")
spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

SCHEMAS = {
    "rainflow": "channel_id string, t double, value double, seq long",
    "lfilter": "channel_id string, t double, value double",
    "corpus": "doc_id long, text string",
}


def build(name, stream):
    from pandas_sigproc_spark import streaming as S

    if name == "rainflow":
        kw = {}
        if "channel_buckets" in S.streaming_rainflow.__code__.co_varnames:
            kw["channel_buckets"] = 4 * spark.sparkContext.defaultParallelism
        return S.streaming_rainflow(stream, order_cols=("t", "seq"), **kw)
    if name == "lfilter":
        kw = {}
        if "channel_buckets" in S.streaming_lfilter.__code__.co_varnames:
            kw["channel_buckets"] = 4 * spark.sparkContext.defaultParallelism
        return S.streaming_lfilter(
            stream, E._IIR_B, E._IIR_A, order_cols=("t",), **kw
        )
    return S.streaming_corpus_filter(stream, min_quality=0.6, dedup=True)


out_dir = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("SPARK_GRAFT_PLANS_DIR", "r16"),
)
os.makedirs(out_dir, exist_ok=True)
src = os.path.join("/tmp", "stream_plan_src")
os.makedirs(src, exist_ok=True)
for name in names:
    stream = (
        spark.readStream.schema(SCHEMAS[name])
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    df = build(name, stream)
    txt = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "extended"
        )
    )
    path = os.path.join(out_dir, f"streaming_{name}_{tag}.txt")
    with open(path, "w") as f:
        f.write(txt)
    print("dumped", path)
