"""Spark 4 Python Data Source for enDAQ ``.ide`` recordings:
``spark.read.format("ide").load("/logs/*.ide")``.

The engine's one distributed ``.ide`` ingest (SURVEY.md §2.1): a
first-class `pyspark.sql.datasource.DataSource` (public Spark 4 API).
One input partition per FILE (an .ide is a single sequential EBML
stream, so per-file is the natural split), each executor task parsing
its file through ``sources/endaq.py`` — the built-in MIDE-profile
reader (``sources/mide.py``), or the ``endaq`` package for any other
DocType — and emitting canonical ``(channel_id, t, value)`` rows.

Usage::

    from pandas_sigproc_spark.sources.ide_datasource import register_ide_source
    register_ide_source(spark)
    df = spark.read.format("ide").load("/data/logs")        # dir or glob
    df = spark.read.format("ide").option("channel", "Pressure").load(...)

Options:

- ``channel`` — restrict to one display name (reference
  ``Endaq.get_channel``, ``daq/io.py:211-239``).

Column pruning is honoured by Spark above the reader; predicate pushdown
does not apply (EBML has no row-group statistics) — at 100 TB the
pattern is: read once through this source, write canonical parquet
partitioned by channel, run analytics there::

    df.write.partitionBy("channel_id").parquet(out)
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

_SCHEMA = "channel_id string, t double, value double"


def _expand(path: str) -> list[str]:
    if os.path.isdir(path):
        hits = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.lower().endswith(".ide")
        )
        if not hits:
            # same loud contract as the glob branch: an empty result is a
            # user mistake (wrong dir, wrong extension), not "no samples"
            raise FileNotFoundError(
                f"ide source: directory {path!r} contains no .ide files"
            )
        return hits
    hits = sorted(_glob.glob(path))
    if not hits:
        raise FileNotFoundError(f"ide source: no files match {path!r}")
    return hits


class IdeDataSource(DataSource):
    """``format("ide")`` — .ide recordings as a streaming-free batch source."""

    @classmethod
    def name(cls) -> str:
        return "ide"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema):
        return _IdeReader(self.options)


class _IdeReader(DataSourceReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("ide source requires a path: .load('/dir/or/glob')")
        self._files = _expand(path)
        self._channel = options.get("channel")

    def partitions(self):
        return [InputPartition(f) for f in self._files]

    def read(self, partition):
        # Runs on executors: import inside so the class pickles cleanly.
        import numpy as np
        import pyarrow as pa

        from pandas_sigproc_spark.sources.endaq import (
            read_ide_channel,
            read_ide_channels,
        )

        fn = partition.value
        if self._channel:
            # FILTER semantics across a multi-file load: a logger file
            # lacking the named channel yields no rows — the old
            # KeyError killed the whole job on the first such file
            # (a review finding; the option is documented as
            # 'restrict', not 'require in every file')
            try:
                chans = [read_ide_channel(fn, self._channel)]
            except KeyError:
                chans = []
        else:
            chans = read_ide_channels(fn)
        # Arrow batches, one per channel — the vectorized half of the
        # Python Data Source API: no per-row Python objects cross the
        # boundary, the channel's arrays ship as columnar buffers.
        for ch in chans:
            n = len(ch.time)
            # one-element string array repeated by a vectorized take:
            # the old [cid] * n built an n-slot Python list converted
            # element-by-element — the one per-row loop left in this
            # columnar path (a review finding)
            cid_arr = pa.array([ch.channel_id], pa.string()).take(
                pa.array(np.zeros(n, dtype=np.int32))
            )
            yield pa.RecordBatch.from_arrays(
                [
                    cid_arr,
                    pa.array(np.asarray(ch.time, dtype=np.float64)),
                    pa.array(np.asarray(ch.data, dtype=np.float64)),
                ],
                names=["channel_id", "t", "value"],
            )


def register_ide_source(spark) -> None:
    spark.dataSource.register(IdeDataSource)
