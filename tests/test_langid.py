"""Model-based language ID (operators/langid.py): the fastText-style
hashed-trigram linear classifier."""

import hashlib

import pandas as pd
import pytest

from pandas_sigproc_spark.operators.langid import (
    LANG_MODEL_BUCKETS,
    LANG_MODEL_NGRAMS,
    MODEL_LANGS,
    lang_id_model,
    lang_model_rows,
)

SENTENCES = {
    "en": "The quick brown fox jumps over the lazy dog and the things "
          "are going fine together with everything else",
    "de": "Der schnelle braune Fuchs springt und die Dinge sind ein "
          "wenig schwierig aber die Entscheidung ist richtig",
    "es": "El rapido zorro marron salta sobre el perro perezoso y las "
          "cosas que pasan son de los que vienen",
    "fr": "Le renard brun rapide saute par dessus le chien paresseux "
          "et les choses qui sont la ne sont que des questions",
}


def _df(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
        "doc_id long, text string",
    )


def test_four_language_accuracy(spark):
    langs = list(SENTENCES)
    out = {
        r.doc_id: r
        for r in lang_id_model(_df(spark, [SENTENCES[l] for l in langs]))
        .collect()
    }
    for i, lang in enumerate(langs):
        assert out[i].pred_lang == lang, (lang, out[i])
        # the winning score is the max reported score
        scores = {l: getattr(out[i], f"score_{l}") for l in MODEL_LANGS}
        assert scores[lang] == max(scores.values())


def test_und_on_code_and_empty(spark):
    out = {
        r.doc_id: r
        for r in lang_id_model(
            _df(spark, ["x = f(y); return z;", "", "12345 67890"])
        ).collect()
    }
    for i in range(3):
        assert out[i].pred_lang == "und"
        assert out[i].n_hits == 0


def test_short_document_beats_heuristic(spark):
    # A short fragment with no stopwords from the probe sets: the
    # heuristic says 'und', the trigram model still reads the English
    # character statistics ("ing", " th", "er ").
    out = lang_id_model(_df(spark, ["thinking together"])).collect()[0]
    assert out.pred_heur == "und"
    assert out.pred_lang == "en"
    assert out.agree is False


def test_agree_column_is_consistent(spark):
    rows = lang_id_model(
        _df(spark, list(SENTENCES.values()) + ["return x", ""])
    ).collect()
    for r in rows:
        assert r.agree == (r.pred_lang == r.pred_heur)


def test_weight_table_invariants():
    rows = lang_model_rows()
    buckets = [r[0] for r in rows]
    assert buckets == sorted(buckets)
    assert len(set(buckets)) == len(buckets)  # merged, not duplicated
    assert all(0 <= b < LANG_MODEL_BUCKETS for b in buckets)
    # every lexicon gram's bucket is present, weights all positive ints
    for lang_idx, lang in enumerate(MODEL_LANGS):
        for g in LANG_MODEL_NGRAMS[lang]:
            b = (
                int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
                % LANG_MODEL_BUCKETS
            )
            row = next(r for r in rows if r[0] == b)
            assert row[1 + lang_idx] > 0
    for r in rows:
        assert all(isinstance(w, int) and w >= 0 for w in r[1:])


def test_collision_merge_semantics(monkeypatch):
    # Two lexicon grams forced into one bucket must MERGE by summation
    # (the fastText hashing-trick semantics), not duplicate the row.
    import pandas_sigproc_spark.operators.langid as L

    monkeypatch.setattr(L, "LANG_MODEL_BUCKETS", 1)  # everything collides
    rows = L.lang_model_rows()
    assert len(rows) == 1
    b, *w = rows[0]
    assert b == 0
    for lang_idx, lang in enumerate(MODEL_LANGS):
        want = sum(
            L._milliweight(i) for i in range(len(LANG_MODEL_NGRAMS[lang]))
        )
        assert w[lang_idx] == want


def test_deterministic_across_runs(spark):
    df = _df(spark, list(SENTENCES.values()))
    a = sorted(map(tuple, lang_id_model(df).collect()))
    b = sorted(map(tuple, lang_id_model(df).collect()))
    assert a == b


def _relational_lang_id(docs):
    """The fully relational form of ``lang_id_model``: per-gram explode,
    md5 bucket, broadcast weight-table join, BIGINT sums per doc.  The
    kernel's reference; it is the plan the DuckDB oracle replays, run
    on Spark so the two engines' lowercasing cannot differ."""
    from functools import reduce
    from operator import and_

    from pyspark.sql import functions as F

    from pandas_sigproc_spark.operators import text as T
    from pandas_sigproc_spark.operators.langid import normalize_expr

    wdf = docs.sparkSession.createDataFrame(
        lang_model_rows(),
        "bucket long, w_en long, w_de long, w_es long, w_fr long",
    )
    heur_langs = list(T.LANG_ORDER) + ["und"]
    heur_idx = (
        F.array_position(
            F.array(*[F.lit(x) for x in heur_langs]), T.lang_pred_expr("ws")
        ).cast("int")
        - 1
    )
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.coalesce(F.col("text"), F.lit("")).alias("_txt"),
    ).select(
        "doc_id",
        normalize_expr("_txt").alias("s"),
        F.split(F.col("_txt"), " ").alias("ws"),
    ).select("doc_id", "s", heur_idx.alias("heur_idx"))
    trigrams = F.expr(
        "transform(sequence(1, greatest(length(s) - 2, 1)),"
        " i -> substring(s, i, 3))"
    )
    bucket = F.expr(f"{T.hash60_sql('g')} % {LANG_MODEL_BUCKETS}")
    agg = (
        base.select("doc_id", "heur_idx", F.explode(trigrams).alias("g"))
        .select("doc_id", "heur_idx", bucket.alias("bucket"))
        .join(F.broadcast(wdf), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.min("heur_idx").alias("heur_idx"),
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("w_en").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_hits"),
            *[
                F.sum(F.coalesce(F.col(f"w_{lang}"), F.lit(0)))
                .cast("long")
                .alias(f"s_{lang}")
                for lang in MODEL_LANGS
            ],
        )
    )
    heur = F.element_at(
        F.array(*[F.lit(x) for x in heur_langs]), F.col("heur_idx") + 1
    )
    pred = F.when(F.col("n_hits") == 0, F.lit("und"))
    for lang in MODEL_LANGS:
        pred = pred.when(
            reduce(
                and_,
                [
                    F.col(f"s_{lang}") >= F.col(f"s_{o}")
                    for o in MODEL_LANGS
                    if o != lang
                ],
            ),
            F.lit(lang),
        )
    return agg.select(
        "doc_id",
        pred.alias("pred_lang"),
        *[
            F.round(
                F.col(f"s_{lang}") / (F.col("n_grams") * F.lit(1000.0)), 6
            ).alias(f"score_{lang}")
            for lang in MODEL_LANGS
        ],
        F.col("n_grams").cast("long").alias("n_grams"),
        "n_hits",
        heur.alias("pred_heur"),
        (pred == heur).alias("agree"),
    )


def test_kernel_matches_expression_path(spark):
    """r15 optimization pin: the Arrow per-document kernel must be
    row-for-row identical to the relational explode/join/groupBy plan
    (:func:`_relational_lang_id`) on the edge battery —
    empty/NULL/sub-trigram docs, unicode that the normalizer strips,
    cross-language stopword ties, and a doc with no lexicon gram at
    all."""
    texts = [
        "the quick brown fox and the lazy dog of doom is here",
        "der die und ist das ein ich schöne",
        "el que la y es cosa que entiende la nacion",
        "le la et est une chose que personne eur ais",
        "", None, "a", "zz",
        "中文文本 de shi zai he",
        "x" * 2000,
        "the der el le de",
        "1234 !@#$ %^&*",
        "  leading and trailing  ",
        "Über straße İstanbul çok güzel",
    ]
    df = _df(spark, texts)
    kern = lang_id_model(df).orderBy("doc_id").collect()
    expr = _relational_lang_id(df).orderBy("doc_id").collect()
    assert len(kern) == len(texts) and kern == expr


def test_kernel_plan_has_no_explode_or_shuffle(spark):
    """The kernel path is one map-side Arrow stage: no Generate
    (explode), no per-gram aggregate Exchange in the physical plan."""
    df = _df(spark, ["the and of a is"])
    plan = (
        lang_id_model(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Generate" not in plan
    assert "Exchange" not in plan


def test_oracle_sql_matches_operator_in_duckdb(spark):
    """The registry's DuckDB oracle for ``lang_id_model`` replays the
    operator row for row on ASCII text, NULL and empty text included
    (null-as-empty: 'und' from both the model and the heuristic)."""
    import duckdb

    from __spark_entry__ import _sql_lang_id_model

    texts = list(SENTENCES.values()) + [
        None,
        "",
        "a",
        "zz",
        "the der el le de",
        "1234 !@#$ %^&*",
        "  leading and trailing  ",
        "x" * 300,
    ]
    got = [
        tuple(r)
        for r in lang_id_model(_df(spark, texts)).orderBy("doc_id").collect()
    ]
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
    )
    want = con.execute(
        f"SELECT * FROM ({_sql_lang_id_model()}) ORDER BY doc_id"
    ).fetchall()
    assert len(got) == len(texts) and got == want
    # the NULL row: 'und' from the model and the heuristic, so agree
    assert got[texts.index(None)][-3:] == (0, "und", True)
