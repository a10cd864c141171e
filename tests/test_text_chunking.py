"""repetition_stats + chunk_documents vs pure-Python references."""

import numpy as np
import pandas as pd
import pytest
from collections import Counter

from pandas_sigproc_spark.operators import chunk_documents, repetition_stats


@pytest.fixture(scope="module")
def docs(spark):
    texts = [
        "the cat sat on the mat the cat sat again",
        "spam spam spam spam spam spam",
        "line one\nline two\nline one\nline three",
        "single",
        "a b\na b\na b",
        " ".join(f"w{i % 7}" for i in range(100)),
    ]
    pdf = pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts})
    return spark.createDataFrame(pdf), texts


def test_repetition_stats_reference(docs):
    df, texts = docs
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    for i, t in enumerate(texts):
        lines = t.split("\n")
        dup = (len(lines) - len(set(lines))) / len(lines)
        ws = t.split(" ")
        bgs = [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        top = max(Counter(bgs).values()) / len(bgs) if bgs else 0.0
        assert got[i].n_lines == len(lines)
        assert got[i].dup_line_frac == pytest.approx(dup, abs=1e-6)
        assert got[i].top_bigram_frac == pytest.approx(top, abs=1e-6)
    # the spam doc is flagged hard
    assert got[1].top_bigram_frac == 1.0


@pytest.mark.parametrize("C,O", [(8, 0), (8, 3), (5, 4), (1, 0)])
def test_chunk_documents_reference(docs, C, O):
    df, texts = docs
    out = chunk_documents(df, C, O).toPandas()
    stride = C - O
    for i, t in enumerate(texts):
        ws = t.split(" ")
        n = len(ws)
        starts = list(range(0, max(n - O, 1), stride))
        rows = out[out.doc_id == i].sort_values("chunk_id")
        assert list(rows.chunk_id) == list(range(len(starts)))
        for k, s in enumerate(starts):
            r = rows.iloc[k]
            assert r.chunk_text == " ".join(ws[s : s + C])
            assert r.n_tokens == min(C, n - s)
    # every token of every doc appears in at least one chunk
    covered = out.groupby("doc_id")["n_tokens"].sum()
    for i, t in enumerate(texts):
        assert covered[i] >= len(t.split(" "))


def test_chunk_documents_validation(docs):
    df, _ = docs
    with pytest.raises(ValueError):
        chunk_documents(df, 4, 4)
    with pytest.raises(ValueError):
        chunk_documents(df, 0)


def test_chunk_plan_is_map_side(docs):
    # huge_doc_tokens=None pins the pure map-side plan: no shuffle.
    df, _ = docs
    plan = (
        chunk_documents(df, 8, 2, huge_doc_tokens=None)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # no shuffle: posexplode over the scan


def test_chunk_token_fold_path_bit_identical(docs):
    # Force EVERY doc through the giant-doc token-fold branch and
    # compare against the map-side plan row for row: the two plans must
    # emit identical chunks (the union auto-select may route any mix).
    df, _ = docs
    for C, O in [(8, 0), (8, 3), (5, 4), (1, 0)]:
        a = (
            chunk_documents(df, C, O, huge_doc_tokens=None)
            .toPandas()
            .sort_values(["doc_id", "chunk_id"], ignore_index=True)
        )
        b = (
            chunk_documents(df, C, O, huge_doc_tokens=1)
            .toPandas()
            .sort_values(["doc_id", "chunk_id"], ignore_index=True)
        )
        import pandas as pd

        pd.testing.assert_frame_equal(a, b)


def test_chunk_giant_doc_linear(spark):
    # The giant-document regression pin: the map-side plan carries the
    # token array through the posexplode (quadratic — Spark copies
    # generate-referenced columns into every output row); the default
    # hybrid must route a 100k-token doc through the token fold and
    # finish promptly with full coverage.
    import pandas as pd
    import time

    n_tok = 100_000
    giant = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": [" ".join(f"u{j}" for j in range(n_tok))]})
    )
    t0 = time.time()
    out = chunk_documents(giant, 128, 0).toPandas()
    assert time.time() - t0 < 60
    assert out.n_tokens.sum() == n_tok
    assert len(out) == (n_tok + 127) // 128
    row0 = out[out.chunk_id == 0].iloc[0]
    assert row0.chunk_text.startswith("u0 u1 ") and row0.n_tokens == 128


def test_repetition_stats_kernel_equals_expr(spark):
    # The Arrow kernel (one pass for the integer counts, JVM
    # division/round) must match the relational explode/agg/join form
    # the registry's DuckDB oracle runs (SQL_REP_STATS), row for row,
    # including the edge classes: NULL text, empty text, single word,
    # multi-space runs (empty "words"), all-duplicate lines, and a long
    # repetitive doc.  The oracle doubles every third doc's text as a
    # second line; the Spark side applies the same doubling, as the
    # registered query does.
    import duckdb
    from pyspark.sql import functions as F

    from __spark_entry__ import SQL_REP_STATS

    texts = [
        None,
        "",
        "single",
        "a  b   c",
        "x\nx\nx",
        "a b a b a b a b",
        " lead and trail ",
        "\n\n",
        " ".join(f"w{i % 3}" for i in range(500)),
    ]
    pdf = pd.DataFrame(
        {"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts}
    )
    df = spark.createDataFrame(pdf).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit("\n"), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    got = sorted(map(tuple, repetition_stats(df).collect()))
    con = duckdb.connect()
    con.register("documents", pdf)
    want = sorted(con.execute(SQL_REP_STATS).fetchall())
    assert len(got) == len(texts) and got == want
    # and the kernel plan really is join/aggregate-free
    plan = repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "Join" not in plan
