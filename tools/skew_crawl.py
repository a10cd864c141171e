"""Crawl-tier skew probes (round 10): the URL/text operators' worst
keys.  Unlike the near-dup tiers there is NO quadratic shape here —
every operator is a per-row expression tree or a per-key window — so
the probes demonstrate BOUNDEDNESS, not guard refusals:

1. HOT HOST (cap_per_domain): every document on one host vs spread
   over thousands.  The ranked window holds no per-row state beyond
   the running rank, so the hot host costs one bounded streaming task
   — wall must stay within a small factor, not blow up.

2. HOT CANONICAL KEY (url_canon dedup shape): all rows collapsing to
   ONE canonical URL vs all-distinct.  The count window over the
   canonical key is linear per key.

3. GIANT HTML DOCUMENT (html_text): one multi-megabyte page among
   normal ones.  The regexp chain is linear in bytes; the giant row
   costs its own bytes, nothing else.

Usage: python tools/skew_crawl.py  ->  markdown table on stdout
(appended to SKEW.md).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd
import pyspark.sql.functions as F

from pandas_sigproc_spark.operators.webcrawl import (
    canonicalize_url,
    cap_per_domain,
    html_text,
)
from pandas_sigproc_spark.session import get_spark


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _wall(fn):
    t0 = time.monotonic()
    fn()
    return time.monotonic() - t0


def main() -> None:
    spark = get_spark("skew_crawl")
    n = 200_000
    rows = []

    # JIT/codegen warmup so the first measured probe is not inflated
    _noop(
        spark.range(50_000).select(
            canonicalize_url(
                F.concat(F.lit("http://w.x/p/"), F.col("id").cast("string"))
            ).alias("k")
        )
    )

    # 1. hot host vs spread hosts: same row count, same cap
    spread = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("http://h"), (F.col("id") % 5000).cast("string"),
            F.lit(".com/p/"), F.col("id").cast("string"),
        ).alias("uri"),
        F.lit("x").alias("text"),
    )
    hot = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("http://megahost.com/p/"), F.col("id").cast("string")
        ).alias("uri"),
        F.lit("x").alias("text"),
    )
    w_spread = _wall(lambda: _noop(cap_per_domain(spread, 100)))
    w_hot = _wall(lambda: _noop(cap_per_domain(hot, 100)))
    rows.append(
        (
            f"cap_per_domain, {n:,} docs over 5,000 hosts",
            f"{w_spread:.2f}",
            "the uniform baseline",
        )
    )
    rows.append(
        (
            f"cap_per_domain, {n:,} docs on ONE host",
            f"{w_hot:.2f}",
            f"{w_hot / w_spread:.2f}x the spread wall — one bounded "
            "streaming window task, rank state only, no blow-up",
        )
    )

    # 2. hot canonical key vs all-distinct keys (the url_canon dedup
    #    shape: canonicalize + count window on the key)
    def url_dedup(df):
        out = df.select(
            "doc_id", canonicalize_url(F.col("uri")).alias("k")
        )
        from pyspark.sql import Window

        return out.withColumn(
            "n", F.count("*").over(Window.partitionBy("k"))
        )

    distinct = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("HTTP://A.B:80/p/"), F.col("id").cast("string"),
            F.lit("?utm_source=x&b=2&a=1#f"),
        ).alias("uri"),
    )
    one_key = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("HTTP://A.B:80/p/0?utm_source="),
            F.col("id").cast("string"),  # differs ONLY in tracking noise
            F.lit("&b=2&a=1#f"),
        ).alias("uri"),
    )
    w_dist = _wall(lambda: _noop(url_dedup(distinct)))
    w_one = _wall(lambda: _noop(url_dedup(one_key)))
    rows.append(
        (
            f"url_canon dedup window, {n:,} DISTINCT canonical keys",
            f"{w_dist:.2f}",
            "the uniform baseline",
        )
    )
    rows.append(
        (
            f"url_canon dedup window, {n:,} rows -> ONE canonical key",
            f"{w_one:.2f}",
            f"{w_one / w_dist:.2f}x — the count window is linear per "
            "key; tracking-noise floods collapse without a quadratic "
            "term",
        )
    )

    # 3. giant HTML document among normal ones
    normal_html = (
        "<html><body><p>hello <b>world</b> of text</p></body></html>"
    )
    giant_html = (
        "<div>" + ("<p>x y z</p><script>s()</script>" * 150_000) + "</div>"
    )  # ~5 MB of markup
    small = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": range(2000), "h": [normal_html] * 2000}
        )
    )
    mixed = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(2000),
                "h": [normal_html] * 1999 + [giant_html],
            }
        )
    )
    w_small = _wall(
        lambda: _noop(small.select(html_text("h").alias("t")))
    )
    w_mixed = _wall(
        lambda: _noop(mixed.select(html_text("h").alias("t")))
    )
    rows.append(
        (
            "html_text, 2,000 normal pages",
            f"{w_small:.2f}",
            "the uniform baseline",
        )
    )
    rows.append(
        (
            "html_text, same + ONE ~5 MB page",
            f"{w_mixed:.2f}",
            f"{w_mixed / w_small:.2f}x — the regexp chain is linear in "
            "bytes; the giant row costs its own bytes in its own task",
        )
    )

    print("| probe | wall (s) | note |")
    print("|---|---|---|")
    for name, wall, note in rows:
        print(f"| {name} | {wall} | {note} |")


if __name__ == "__main__":
    main()
