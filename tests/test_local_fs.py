"""The ``file:`` filesystem chosen by ``session.get_spark``.

The session points ``file:`` at ``NoForkLocalFileSystem``, the stock
``LocalFileSystem`` whose ``setPermission`` does not fork ``chmod``.
These tests pin that nothing a stream or a batch write does through the
session forks ``chmod``, that files, checksums and directories land with
the stock modes, that a sticky bit still reaches the disk, and that the
committed jar is built from the committed source.
"""

import os
import shutil
import subprocess
import sys
import textwrap
import zipfile

import numpy as np
import pandas as pd
import pytest

from pandas_sigproc_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(REPO, "pandas_sigproc_spark", "jvm")

_FORK_PIN = textwrap.dedent(
    """
    import os, sys
    sys.path.insert(0, {repo!r})
    from pandas_sigproc_spark.kernels.design import butter
    from pandas_sigproc_spark.session import get_spark
    from pandas_sigproc_spark.streaming import streaming_lfilter

    root = sys.argv[1]
    spark = get_spark("fork_pin", cpus=2)
    stream = spark.readStream.schema(
        "channel_id string, t double, value double"
    ).parquet(os.path.join(root, "src"))
    b, a = butter(2, 0.2, "lowpass")
    q = (
        streaming_lfilter(stream, b, a, channel_buckets=2)
        .writeStream.format("parquet")
        .option("path", os.path.join(root, "sink"))
        .option("checkpointLocation", os.path.join(root, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert q.exception() is None, q.exception()
    assert len(q.recentProgress) == 1, q.recentProgress
    assert spark.read.parquet(os.path.join(root, "sink")).count() == 800
    spark.range(100).write.parquet(os.path.join(root, "batch"))
    spark.stop()
    """
)


def test_stream_batch_and_batch_write_fork_no_chmod(tmp_path):
    # A stub chmod first on PATH records each call and runs the real one.
    # One stateful micro-batch (state store, parquet sink, checkpoint)
    # plus one batch parquet write must record none: the stock local
    # filesystem forks chmod for every file it creates, ~36 per batch.
    real = shutil.which("chmod")
    assert real, "no chmod on PATH"
    bindir, log = tmp_path / "bin", tmp_path / "chmod.log"
    bindir.mkdir()
    stub = bindir / "chmod"
    stub.write_text(f'#!/bin/sh\necho "$*" >> "{log}"\nexec "{real}" "$@"\n')
    stub.chmod(0o755)
    src = tmp_path / "src"
    src.mkdir()
    t = np.arange(100) * 0.01
    pd.DataFrame(
        {
            "channel_id": np.repeat([f"c{i}" for i in range(8)], len(t)),
            "t": np.tile(t, 8),
            "value": np.sin(np.arange(800) * 0.1),
        }
    ).to_parquet(src / "part-0.parquet", index=False)
    env = dict(os.environ, PATH=f"{bindir}{os.pathsep}{os.environ['PATH']}")
    run = subprocess.run(
        [sys.executable, "-c", _FORK_PIN.format(repo=REPO), str(tmp_path)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-4000:]
    calls = log.read_text().splitlines() if log.exists() else []
    assert calls == [], f"{len(calls)} forked chmod calls, first: {calls[:5]}"


def _local_fs(spark, umask, stock):
    """A fresh ``file:`` filesystem at ``fs.permissions.umask-mode``
    ``umask``: the stock ``LocalFileSystem`` or the session's class."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    conf.set("fs.permissions.umask-mode", umask)
    uri = jvm.java.net.URI("file:///")
    if stock:
        fs = jvm.org.apache.hadoop.fs.LocalFileSystem()
        fs.initialize(uri, conf)
    else:
        fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(uri, conf)
        assert fs.getClass().getName() == session._LOCAL_FS
    return fs


def _mode(path):
    return oct(os.stat(path).st_mode & 0o7777)


@pytest.mark.parametrize(
    "umask, want",
    [
        ("022", ("0o644", "0o644", "0o755")),
        ("077", ("0o600", "0o600", "0o700")),
        ("002", ("0o664", "0o664", "0o775")),
    ],
)
def test_file_crc_and_dir_modes_match_stock(spark, tmp_path, umask, want):
    Path = spark._jvm.org.apache.hadoop.fs.Path
    got = {}
    for stock in (True, False):
        root = tmp_path / ("stock" if stock else "session")
        root.mkdir()
        fs = _local_fs(spark, umask, stock)
        out = fs.create(Path(str(root / "f")))
        out.write(bytearray(b"payload"))
        out.close()
        assert fs.mkdirs(Path(str(root / "d")))
        fs.close()
        got[stock] = tuple(
            _mode(root / name) for name in ("f", ".f.crc", "d")
        )
        with open(root / "f", "rb") as f:
            assert f.read() == b"payload"
    assert got[False] == got[True] == want


def test_sticky_bit_takes_the_stock_path(spark, tmp_path):
    # java.nio has no sticky bit, so only the stock (forking) path can
    # put it on disk: a sticky directory proves the class deferred.
    jvm = spark._jvm
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission("1777")
    assert perm.getStickyBit()
    for stock in (True, False):
        d = tmp_path / ("stock" if stock else "session")
        d.mkdir()
        fs = _local_fs(spark, "022", stock)
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(d)), perm)
        fs.close()
        assert _mode(d) == "0o1777", stock


@pytest.mark.skipif(
    not (shutil.which("javac") and shutil.which("jar")),
    reason="no JDK (javac, jar) to rebuild NoForkLocalFileSystem.jar",
)
def test_committed_jar_is_built_from_its_source(tmp_path):
    env = dict(
        os.environ,
        PATH=f"{os.path.dirname(sys.executable)}{os.pathsep}{os.environ['PATH']}",
    )
    subprocess.run(
        [os.path.join(JVM_DIR, "build.sh"), str(tmp_path)],
        env=env, check=True, timeout=300,
    )

    def classes(jar):
        with zipfile.ZipFile(jar) as z:
            return {
                n: z.read(n) for n in z.namelist() if n.endswith(".class")
            }

    rebuilt = classes(tmp_path / "NoForkLocalFileSystem.jar")
    assert rebuilt, "the build produced no classes"
    assert classes(session._LOCAL_FS_JAR) == rebuilt, (
        "NoForkLocalFileSystem.jar is stale: run pandas_sigproc_spark/jvm/build.sh"
    )
