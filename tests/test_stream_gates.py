"""The round-13 streaming driver gates (q_streaming_corpus_filter /
q_streaming_rainflow) pinned stream == batch IN-SUITE at sf0.001, so a
regression shows up locally before the driver's sf0.01 hash gate does.
The gates themselves replay genuine multi-micro-batch file-source
streams (__spark_entry__._replay_stream_gate); the batch twin here is
the same operator applied to the whole table in one shot.
"""

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"


def _sorted_rows(df):
    cols = sorted(df.columns)
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_streaming_corpus_filter_gate_matches_batch(spark):
    from pandas_sigproc_spark.streaming import streaming_corpus_filter

    got = entry_mod.q_streaming_corpus_filter(spark, SF)
    batch = streaming_corpus_filter(
        entry_mod._docs(spark, SF).select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        ),
        min_quality=0.6,
        dedup=True,
    ).select(
        F.md5("text").alias("digest"),
        "quality",
        "pred_lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )
    g, b = _sorted_rows(got), _sorted_rows(batch)
    assert len(g) > 0
    assert g == b


def test_streaming_rainflow_gate_matches_batch(spark):
    from pandas_sigproc_spark.streaming import streaming_rainflow

    got = entry_mod.q_streaming_rainflow(spark, SF)
    batch = (
        streaming_rainflow(
            entry_mod._signals(spark, SF), order_cols=("t", "seq")
        )
        .groupBy("channel_id", F.round("rng", 2).alias("bin"))
        .agg(F.sum("cnt").alias("cycles"))
    )
    g, b = _sorted_rows(got), _sorted_rows(batch)
    assert len(g) > 0
    assert g == b


def test_replay_gate_raises_when_batches_collapse(spark, tmp_path, monkeypatch):
    # The micro-batch guard: if the replay ran as fewer batches than
    # source files, the gate certifies nothing about state carry and
    # must refuse loudly rather than pass trivially.
    d = spark.range(8).select(
        F.col("id").cast("long").alias("doc_id"),
        F.lit("text body here").alias("text"),
    )
    parts = [d.filter(F.col("doc_id") % 2 == i) for i in range(2)]

    class _FakeQuery:
        recentProgress = []  # pretend zero batches ran

        def awaitTermination(self, *a):
            return True

    from pyspark.sql.streaming.readwriter import DataStreamWriter

    real_start = DataStreamWriter.start

    def fake_start(self, *a, **kw):
        real_start(self, *a, **kw).awaitTermination()
        return _FakeQuery()

    monkeypatch.setattr(DataStreamWriter, "start", fake_start)
    with pytest.raises(RuntimeError, match="state carry"):
        entry_mod._replay_stream_gate(
            spark,
            "guardtest",
            str(tmp_path / "sf"),
            parts,
            "doc_id long, text string",
            lambda s: s,
        )


def test_replay_gate_refuses_degenerate_single_batch(spark, tmp_path):
    # <2 non-empty source files would replay as one micro-batch and
    # certify nothing about state carry — refuse before running.
    d = spark.range(8).select(
        F.col("id").cast("long").alias("doc_id"),
        F.lit("text body here").alias("text"),
    )
    with pytest.raises(RuntimeError, match="cross-batch state"):
        entry_mod._replay_stream_gate(
            spark,
            "degentest",
            str(tmp_path / "sf"),
            [d],  # one part = one batch
            "doc_id long, text string",
            lambda s: s,
        )


def test_replay_gate_writes_empty_part_for_any_column_type(spark, tmp_path):
    # An all-filtered-out part is written as an empty parquet file that
    # carries the stream's schema; timestamp and array columns must map
    # to Arrow as readily as the flat numeric ones.
    def part(i, n):
        return spark.range(n).select(
            (F.col("id") + 10 * i).alias("doc_id"),
            F.timestamp_seconds(F.col("id") + 10 * i).alias("ts"),
            F.array(F.col("id").cast("double"), F.lit(0.5)).alias("v"),
        )

    schema = "doc_id long, ts timestamp, v array<double>"
    got = entry_mod._replay_stream_gate(
        spark,
        "emptytypes",
        str(tmp_path / "sf"),
        [part(0, 3), part(1, 0), part(2, 2)],
        schema,
        lambda s: s,
    )
    assert sorted(r.doc_id for r in got.collect()) == [0, 1, 2, 20, 21]
    assert got.dtypes == [
        ("doc_id", "bigint"), ("ts", "timestamp"), ("v", "array<double>")
    ]
