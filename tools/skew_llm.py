"""LLM-tier skew probes (r5 verdict item 7): SKEW.md covers the signal
operators; these probe the text/embedding tier's three worst-case keys.

1. GIANT DOCUMENT (substring dedup): one document holding ~half the
   corpus tokens, built from repeated 8-gram spans so its covered set is
   maximal.  The risk point is the per-doc ``collect_set`` of covered
   positions (operators/text.py) — bounded by document length, so one
   giant doc costs one big task, not a corpus-wide blow-up.  The probe
   reports wall with/without the giant doc and the giant doc's token and
   covered-set sizes.

2. HOT LSH BUCKET (embedding near-dup): a block of identical vectors
   co-buckets in EVERY banded table, so the within-bucket pair join
   holds h^2 pairs.  The probe measures wall growth vs the clean corpus
   and reports the candidate-pair count — the quadratic cost is real and
   the knob is b (more planes per table → smaller buckets); exact-dup
   removal (dedup_exact) BEFORE embedding near-dup is the production
   mitigation and is what corpus_prep does.

3. DEGENERATE K-MEANS CLUSTER (semantic dedup): duplicate-heavy
   embeddings collapse every vector into cluster 0; the default-on
   "auto" guard must refuse the ~n^2/2-pair join loudly instead of
   running it.  The probe reports time-to-raise.

Usage: python tools/skew_llm.py  ->  markdown table on stdout
(appended to SKEW.md).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

import __spark_entry__ as entry_mod
from pandas_sigproc_spark.operators.kmeans import semantic_dedup
from pandas_sigproc_spark.operators.text import substring_dedup
from pandas_sigproc_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
GIANT_TOKENS = int(os.environ.get("SKEW_GIANT_TOKENS", 400_000))
HOT_DUP_VECS = int(os.environ.get("SKEW_HOT_VECS", 1_500))
DEGEN_VECS = int(os.environ.get("SKEW_DEGEN_VECS", 30_000))


def _wall(fn):
    t0 = time.time()
    out = fn()
    return time.time() - t0, out


def probe_giant_doc(spark):
    docs = entry_mod._docs(spark, SF_DIR).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    base_tokens = docs.select(
        F.sum(F.size(F.split("text", " ")))
    ).collect()[0][0]
    # The giant doc repeats a 64-token phrase, so every 8-gram inside it
    # is corpus-duplicated and its covered set is its full length — the
    # worst case for the per-doc position fold.
    phrase = " ".join(f"w{i}" for i in range(64))
    giant_text = " ".join([phrase] * (GIANT_TOKENS // 64))
    giant = spark.createDataFrame(
        pd.DataFrame({"doc_id": [10_000_000], "text": [giant_text]})
    )
    w_base, _ = _wall(
        lambda: substring_dedup(docs)
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    both = docs.unionByName(giant)
    w_giant, _ = _wall(
        lambda: both.select(
            F.col("doc_id"), F.col("text")
        )  # fresh plan, no cache reuse
        and substring_dedup(both)
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    gr = (
        substring_dedup(both)
        .filter("doc_id = 10000000")
        .select("n_tokens", "n_dup_tokens")
        .collect()[0]
    )
    return [
        (
            f"substr_dedup base corpus ({base_tokens:,} tokens)",
            w_base,
            "-",
        ),
        (
            f"substr_dedup + giant doc ({gr['n_tokens']:,} tokens, "
            f"covered set {gr['n_dup_tokens']:,} — one bounded task)",
            w_giant,
            f"{w_giant / w_base:.2f}x wall for "
            f"{(base_tokens + gr['n_tokens']) / base_tokens:.2f}x tokens",
        ),
    ]


def probe_hot_lsh_bucket(spark):
    e = entry_mod._embeds_base(spark, SF_DIR)
    one = e.filter(F.col("vec_id") == 7).select("v").collect()[0]["v"]
    hot = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(HOT_DUP_VECS) + 5_000_000,
                "embedding": [list(one)] * HOT_DUP_VECS,
            }
        )
    )
    base = entry_mod._embeds(spark, SF_DIR).select("vec_id", "embedding")
    w_base, _ = _wall(
        lambda: entry_mod.q_dedup_embed(spark, SF_DIR)
        .write.mode("overwrite")
        .format("noop")
        .save()
    )

    def _hot_plan(max_bucket_rows):
        # same plan as q_dedup_embed (operators/ann.embedding_near_pairs),
        # over base + hot block, with the guard cap under test
        from pandas_sigproc_spark.operators.ann import embedding_near_pairs

        un = base.unionByName(hot).select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        return embedding_near_pairs(
            un, 0.4, max_bucket_rows=max_bucket_rows, op_name="dedup_embed"
        )

    w_hot, n_pairs = _wall(lambda: _hot_plan(None).count())

    def _guarded():
        try:
            _hot_plan(1000).count()
            return "GUARD DID NOT FIRE"
        except Exception as ex:  # the raise_error surfaces as a SparkException
            s = str(ex)
            return "fired" if "max_bucket_rows" in s else f"unexpected: {s[:80]}"

    w_guard, guard_out = _wall(_guarded)
    return [
        ("dedup_embed base corpus (banded LSH)", w_base, "-"),
        (
            f"dedup_embed + {HOT_DUP_VECS:,} duplicate vectors in ONE "
            f"bucket ({n_pairs:,} near-dup pairs — h^2 is the data, "
            "mitigate with dedup_exact first, as corpus_prep does)",
            w_hot,
            f"{w_hot / w_base:.2f}x",
        ),
        (
            f"dedup_embed + same hot bucket, guard_bucket_rows cap=1000 "
            f"(default-on guard, raise_error before the pair join: {guard_out})",
            w_guard,
            f"{w_guard / w_hot:.2f}x of the unguarded grind",
        ),
    ]


def probe_degenerate_kmeans(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(DEGEN_VECS),
                "embedding": [[1.0, 2.0, 3.0, 4.0]] * DEGEN_VECS,
            }
        )
    )
    t0 = time.time()
    try:
        semantic_dedup(df, k=16, iters=1).filter("NOT keep").count()
        raise AssertionError("guard did not fire on the degenerate corpus")
    except Exception as exc:  # noqa: BLE001 — raise_error surfaces as Py4J
        if "max_cluster_rows" not in str(exc):
            raise
    w = time.time() - t0
    avoided = DEGEN_VECS * (DEGEN_VECS - 1) // 2
    return [
        (
            f"semantic_dedup degenerate corpus ({DEGEN_VECS:,} duplicate "
            f"vectors, k=16): default guard raised, {avoided:,} pairs "
            "never ran",
            w,
            "loud refusal",
        )
    ]


def probe_para_dedup(spark):
    """Round-6 block-dedup worst cases: (a) a giant document (40k
    blocks — the per-doc reassembly collect is bounded by document
    length, one big task); (b) a HOT BLOCK duplicated across thousands
    of documents (the digest group is hot, but both consumers are safe
    by shape: the keeper aggregation is a partial agg — count + min
    combine map-side — and the keeper join matches each occurrence to
    exactly ONE keeper row, never to the other occurrences)."""
    from pandas_sigproc_spark.operators.curation import block_dedup

    docs = entry_mod._docs(spark, SF_DIR).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    n_docs = docs.count()
    phrase = " ".join(f"g{i}" for i in range(10))
    giant_text = " ".join(
        " ".join(f"u{j}_{i}" for i in range(10))
        for j in range(GIANT_TOKENS // 10)
    )
    giant = spark.createDataFrame(
        pd.DataFrame({"doc_id": [10_000_000], "text": [giant_text]})
    )
    hot = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": np.arange(HOT_DUP_VECS) + 20_000_000,
                "text": [phrase + " " + phrase + " " + phrase] * HOT_DUP_VECS,
            }
        )
    )
    w_base, _ = _wall(
        lambda: block_dedup(docs).write.mode("overwrite").format("noop").save()
    )
    w_giant, _ = _wall(
        lambda: block_dedup(docs.unionByName(giant))
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    w_hot, _ = _wall(
        lambda: block_dedup(docs.unionByName(hot))
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    hot_kept = (
        block_dedup(docs.unionByName(hot))
        .filter(F.col("doc_id") >= 20_000_000)
        .agg(F.sum("n_dup_blocks"))
        .collect()[0][0]
    )
    return [
        (f"para_dedup base corpus ({n_docs:,} docs)", w_base, "-"),
        (
            f"para_dedup + giant doc ({GIANT_TOKENS // 10:,} all-unique "
            "blocks — reassembly is one bounded task)",
            w_giant,
            f"{w_giant / w_base:.2f}x",
        ),
        (
            f"para_dedup + ONE block duplicated {3 * HOT_DUP_VECS:,}x "
            f"across {HOT_DUP_VECS:,} docs ({hot_kept:,} dup blocks "
            "dropped; hot digest folds in a partial agg, keeper join is "
            "1:1 per occurrence)",
            w_hot,
            f"{w_hot / w_base:.2f}x",
        ),
    ]


def probe_chunking(spark):
    """Round-6 chunk_documents hybrid: the default plan must route a
    giant document through the token-fold branch — the map-side plan
    carries the token array through its posexplode (Spark copies
    generate-referenced columns into every output row), which measured
    175 s on ONE 160k-token doc before the hybrid."""
    from pandas_sigproc_spark.operators.text import chunk_documents

    docs = entry_mod._docs(spark, SF_DIR).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    giant = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10_000_001],
                "text": [" ".join(f"c{i}" for i in range(GIANT_TOKENS))],
            }
        )
    )
    w_base, _ = _wall(
        lambda: chunk_documents(docs, 128, 16)
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    w_giant, _ = _wall(
        lambda: chunk_documents(docs.unionByName(giant), 128, 16)
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    return [
        ("doc_chunks base corpus (map-side branch only)", w_base, "-"),
        (
            f"doc_chunks + giant doc ({GIANT_TOKENS:,} tokens auto-routed "
            "through the token fold — linear, one uniform shuffle)",
            w_giant,
            f"{w_giant / w_base:.2f}x",
        ),
    ]


def main():
    spark = get_spark("skew_llm")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    rows = []
    rows += probe_giant_doc(spark)
    entry_mod.release_caches()
    rows += probe_hot_lsh_bucket(spark)
    entry_mod.release_caches()
    rows += probe_degenerate_kmeans(spark)
    entry_mod.release_caches()
    rows += probe_para_dedup(spark)
    entry_mod.release_caches()
    rows += probe_chunking(spark)
    print("| probe | wall (s) | note |")
    print("|---|---|---|")
    for name, w, note in rows:
        print(f"| {name} | {w:.2f} | {note} |")


if __name__ == "__main__":
    main()
