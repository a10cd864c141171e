"""Bucketed storage for the canonical ``signals`` table.

SURVEY.md §4.2 mitigation (a) for the chained-kernel shuffle gap, and
§7.0's layout commitment: persist ``signals`` hash-bucketed (and
time-sorted) by ``channel_id``, so every per-channel operator —
``groupBy("channel_id")`` aggregations, ``applyInPandas`` kernels —
starts from a scan whose partitioning already satisfies the clustered
distribution and needs NO exchange at all.  At 100 TB this removes the
one shuffle that every kernel query would otherwise pay, turning the
whole kernel tier into scan → kernel → write.

The layout helps per-channel keying only.  The bucketed kernels (a
fleet of small channels, ``planner.group_apply`` with ``n_buckets``)
group by a derived bucket id ``_b`` placed with ``repartitionById``, so
they pay their one exchange over a bucketed table too
(tests/test_bucketed.py).

Spark-native bucketing requires the table path (``saveAsTable`` +
``spark.table``): plain ``parquet(path)`` round-trips lose the bucket
metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_signals_bucketed(
    df: DataFrame, table: str, n_buckets: int | None = None, sort: bool = True
) -> None:
    """Persist ``df`` bucketed by ``channel_id`` into ``table``, in
    ``n_buckets`` buckets, by default one per task slot
    (``defaultParallelism``).

    ``sort=True`` additionally sorts files by ``(channel_id, t)`` so
    parquet row-group min/max stats on ``t`` stay tight per channel
    (range predicates prune I/O — the §2.2 `between` path).
    """
    n = n_buckets or df.sparkSession.sparkContext.defaultParallelism
    w = df.write.mode("overwrite").format("parquet").bucketBy(int(n), "channel_id")
    if sort:
        w = w.sortBy("channel_id", "t")
    w.saveAsTable(table)


def read_signals_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed signals table with its bucket spec intact."""
    return spark.table(table)
