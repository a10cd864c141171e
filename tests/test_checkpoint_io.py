"""Checkpoint file manager chosen by ``session.get_spark``.

The session swaps Spark's FileContext-based checkpoint file manager for
the FileSystem-based one (no forked ``readlink`` per rename without
libhadoop).  These tests pin that the swap keeps the no-overwrite
guarantee on local paths and that the configured class resolves.
"""

import os

import pandas as pd
import pytest
from py4j.protocol import Py4JJavaError

from pandas_sigproc_spark import session

_PKG = "org.apache.spark.sql.execution.streaming.checkpointing."


def _manager(spark, path, cls=None):
    """A checkpoint file manager on ``path``: class ``cls``, or the one
    the session configures when ``cls`` is None."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    if cls is None:
        return getattr(jvm, _PKG + "CheckpointFileManager").create(hpath, conf)
    return getattr(jvm, _PKG + cls)(hpath, conf)


def _write(mgr, spark, path, payload):
    out = mgr.createAtomic(spark._jvm.org.apache.hadoop.fs.Path(path), False)
    out.write(bytearray(payload))
    out.close()


@pytest.mark.parametrize(
    "cls",
    ["FileSystemBasedCheckpointFileManager", "FileContextBasedCheckpointFileManager"],
)
def test_create_atomic_refuses_to_overwrite(spark, tmp_path, cls):
    mgr = _manager(spark, str(tmp_path), cls)
    path = str(tmp_path / "0")
    _write(mgr, spark, path, b"first")
    with pytest.raises(Py4JJavaError) as ei:
        _write(mgr, spark, path, b"second")
    exc = spark._jvm.java.lang.Class.forName(
        "org.apache.hadoop.fs.FileAlreadyExistsException"
    )
    assert exc.isInstance(ei.value.java_exception), str(ei.value)
    with open(path, "rb") as f:
        assert f.read() == b"first"


def test_session_checkpoints_through_filesystem_manager(spark, tmp_path):
    # The configured class must resolve: Spark instantiates it for every
    # checkpoint, so a tiny stream with a checkpoint must run and commit.
    mgr = _manager(spark, str(tmp_path))
    assert mgr.getClass().getName() == session._CHECKPOINT_FILE_MANAGER
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"x": [1.0, 2.0]}).to_parquet(src / "part-0.parquet")
    ck = str(tmp_path / "ck")
    q = (
        spark.readStream.schema("x double").parquet(str(src))
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "sink"))
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert os.listdir(os.path.join(ck, "commits")) != []
    assert spark.read.parquet(str(tmp_path / "sink")).count() == 2
