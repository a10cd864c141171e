"""Round-11 skew probes for the late additions (the skew_crawl.py
methodology: noop-sink evaluation, JIT warmed before the first
measurement, hot-key shape vs uniform baseline).

1. write_wds_shards HOT SHARD: every member row lands in ONE shard vs
   spread over 512.  The writer's contract is "peak task state = one
   shard's bytes" — the hot case serializes into a single tar-assembly
   task, linear in bytes, and must not blow up the job.

2. cluster_representatives DEGENERATE CLUSTER: all docs in ONE
   component.  The argmax is a partial-agg max over a (score, -id)
   struct, so the hot cluster combines map-side; the probe also times
   the WINDOW-FUNCTION form the operator deliberately avoids (row_number
   over the component partition) to price the alternative.

3. training_order BUCKET BALANCE: the order key is md5 of the id, so
   bucket sizes concentrate around n/buckets no matter how skewed the
   input ids are; the probe feeds adversarially clustered ids
   (all sharing a long common prefix) and reports max/mean bucket size.

Usage: python tools/skew_pack.py  ->  markdown table on stdout
(appended to SKEW.md).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd
import pyspark.sql.functions as F

from pandas_sigproc_spark.session import get_spark


def noop(df) -> float:
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def main() -> None:
    spark = get_spark("skew_pack")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []

    # ---- 1. writer hot shard -------------------------------------------
    from pandas_sigproc_spark.operators.webdataset import write_wds_shards

    n = 100_000
    body = b"x" * 200
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lpad(F.col("id").cast("string"), 8, "0").alias("key"),
        F.lit("txt").alias("ext"),
        F.lit(body).alias("payload"),
    )
    spread = base.withColumn("shard", (F.col("doc_id") % 512).cast("long"))
    hot = base.withColumn("shard", F.lit(0).cast("long"))
    noop(write_wds_shards(spread.drop("doc_id")))  # JIT warm
    w_spread = noop(write_wds_shards(spread.drop("doc_id")))
    w_hot = noop(write_wds_shards(hot.drop("doc_id")))
    rows.append(
        (
            f"write_wds_shards, {n:,} members over 512 shards",
            w_spread,
            "the uniform baseline",
        )
    )
    rows.append(
        (
            f"write_wds_shards, {n:,} members into ONE shard",
            w_hot,
            f"{w_hot / w_spread:.2f}x — one "
            f"~{n * (512 + (200 + 511) // 512 * 512) // (1 << 20)} MB "
            "tar assembled in one bounded task, linear in bytes; at scale the "
            "upstream assign_shards token budget is what keeps shards this "
            "size in the first place",
        )
    )

    # ---- 2. degenerate cluster argmax ----------------------------------
    from pandas_sigproc_spark.operators.curation import cluster_representatives

    m = 200_000
    comp_uniform = spark.range(m).select(
        F.col("id").alias("doc_id"), (F.col("id") % 20_000).alias("component")
    )
    comp_hot = spark.range(m).select(
        F.col("id").alias("doc_id"), F.lit(0).cast("long").alias("component")
    )
    scores = spark.range(m).select(
        F.col("id").alias("doc_id"),
        F.round((F.xxhash64("id") % 1_000_000) / 1_000_000.0, 6).alias("score"),
    )
    noop(cluster_representatives(comp_uniform, scores))  # warm
    w_uni = noop(cluster_representatives(comp_uniform, scores))
    w_hot2 = noop(cluster_representatives(comp_hot, scores))
    rows.append(
        (
            f"cluster_representatives, {m:,} docs in 20,000 clusters",
            w_uni,
            "the uniform baseline",
        )
    )
    rows.append(
        (
            f"cluster_representatives, {m:,} docs in ONE cluster",
            w_hot2,
            f"{w_hot2 / w_uni:.2f}x — the (score, -id) struct max partial-aggregates "
            "map-side, so the hot component reaches the exchange as one row per task",
        )
    )

    # window-form comparison: the plan the operator deliberately avoids
    from pyspark.sql import Window

    j = comp_hot.join(scores, "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    win_form = j.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") == 1
    )
    t_win = noop(win_form)
    rows.append(
        (
            "  same hot cluster via the WINDOW form (avoided)",
            t_win,
            f"{t_win / w_hot2:.2f}x the partial-agg wall — the whole cluster "
            "funnels through one window task",
        )
    )

    # ---- 3. training_order bucket balance under adversarial ids --------
    from pandas_sigproc_spark.operators.packing import training_order

    k = 200_000
    # adversarial: ids clustered in one tiny numeric range
    adv = spark.range(k).select((F.col("id") + 10_000_000_000).alias("doc_id"))
    noop(training_order(adv, buckets=256))  # warm
    t_adv = noop(training_order(adv, buckets=256))
    dist = (
        training_order(adv, buckets=256)
        .groupBy("bucket")
        .count()
        .agg(
            F.max("count").alias("mx"),
            F.avg("count").alias("mean"),
            F.count("*").alias("nb"),
        )
        .collect()[0]
    )
    rows.append(
        (
            f"training_order, {k:,} adversarially-clustered ids, 256 buckets",
            t_adv,
            f"max bucket {dist['mx']} vs mean {dist['mean']:.0f} over "
            f"{dist['nb']} buckets ({dist['mx'] / dist['mean']:.2f}x) — the "
            "md5 order key erases input clustering by construction",
        )
    )

    print("| probe | wall (s) | note |")
    print("|---|---|---|")
    for name, wall, note in rows:
        print(f"| {name} | {wall:.2f} | {note} |")


if __name__ == "__main__":
    main()
