"""A composed registry slot checks every branch as exactly as a
standalone entry would: an integer or boolean column that some branch
lacks keeps its width and its full 64-bit value through the union, on
Spark and in the DuckDB oracle alike."""

import duckdb
import pytest
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

import __spark_entry__ as entry_mod
from tools.oracle_check import compare

BIG = 2**62 + 1  # not representable in float64
DEDUP_SQL = "SELECT 7::BIGINT AS doc_id, true AS dup, 0.5::DOUBLE AS score"
PHASH_SQL = f"SELECT 3::BIGINT AS doc_id, {BIG}::BIGINT AS phash, 2::INTEGER AS pos"


def _branches(spark, phash=BIG, pos_type=IntegerType()):
    dedup = spark.createDataFrame(
        [(7, True, 0.5)],
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("dup", BooleanType()),
                StructField("score", DoubleType()),
            ]
        ),
    )
    phashes = spark.createDataFrame(
        [(3, phash, 2)],
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("phash", LongType()),
                StructField("pos", pos_type),
            ]
        ),
    )
    return ("dedup", dedup), ("phash", phashes)


EXACT = ("dup", "phash", "pos")


def _oracle_pdf():
    sql = entry_mod._compose_oracle(
        ("dedup", DEDUP_SQL), ("phash", PHASH_SQL), exact=EXACT
    )
    return duckdb.sql(sql).df()


def test_lacked_integer_columns_keep_value_and_width(spark):
    got = entry_mod._compose_paths(*_branches(spark), exact=EXACT).toPandas()
    want = _oracle_pdf()
    assert compare("slot", got, want) == []
    row = got.set_index("path")
    assert row.loc["phash", "phash"] == f"BIGINT:{BIG}"
    assert row.loc["phash", "pos"] == "INTEGER:2"
    assert row.loc["dedup", "dup"] == "BOOLEAN:true"
    assert row.loc["dedup", "phash"] is None
    # a column every branch carries keeps its native dtype
    assert str(got["doc_id"].dtype) == "int64"


def test_low_bit_and_width_drift_in_a_lacked_column_are_caught(spark):
    want = _oracle_pdf()
    off_by_one = entry_mod._compose_paths(
        *_branches(spark, phash=BIG + 1), exact=EXACT
    ).toPandas()
    assert compare("slot", off_by_one, want)
    wider = entry_mod._compose_paths(
        *_branches(spark, pos_type=LongType()), exact=EXACT
    ).toPandas()
    assert compare("slot", wider, want)


def test_undeclared_lacked_integer_column_raises(spark):
    with pytest.raises(ValueError, match="exact="):
        entry_mod._compose_paths(*_branches(spark), exact=("dup", "phash"))


def test_branches_disagreeing_on_a_column_type_raise(spark):
    (_, dedup), (label, phashes) = _branches(spark)
    retyped = phashes.withColumn("doc_id", phashes["doc_id"].cast(StringType()))
    with pytest.raises(ValueError, match="doc_id"):
        entry_mod._compose_paths(("dedup", dedup), (label, retyped), exact=EXACT)


def test_plain_branch_with_its_own_path_column_raises(spark):
    # Only a branch whose oracle is a list is composed and may carry a
    # ``path`` column (it nests as label/path); the oracle's union
    # refuses the clash for any other branch, and so must the slot.
    def q_inner(spark, sf_dir):
        return entry_mod._compose_paths(("a", spark.range(1)), ("b", spark.range(2)))

    def q_url(spark, sf_dir):
        return spark.createDataFrame([("/robots.txt",)], "path string")

    inner = [("a", "SELECT 0::BIGINT AS id"), ("b", "SELECT 0::BIGINT AS id")]
    nested = entry_mod._slot((q_inner, inner))(spark, None).toPandas()
    assert sorted(nested["path"]) == ["inner/a", "inner/b", "inner/b"]
    slot = entry_mod._slot((q_inner, inner), (q_url, "SELECT '/x' AS path"))
    with pytest.raises(ValueError, match="'url'"):
        slot(spark, None)
