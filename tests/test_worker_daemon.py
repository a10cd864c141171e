"""The Python worker daemon (pandas_sigproc_spark.worker_daemon): zip
archives on the worker path are re-read only when they change, and
``session.get_spark`` really runs every Python task under it."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from pandas_sigproc_spark import worker_daemon


def _write_zip(path, value):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zdmod.py", f"VALUE = {value}\n")


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimport re-reads lazily from 3.13 on; the daemon leaves it stock",
)
def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, 1)
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    # restored at teardown, so the patch stays local to this test
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.delitem(sys.modules, "zdmod", raising=False)
    monkeypatch.syspath_prepend(archive)
    worker_daemon.install()
    try:
        assert importlib.import_module("zdmod").VALUE == 1
        importlib.invalidate_caches()  # first call: read once, stamp
        n = len(reads)
        for _ in range(3):
            importlib.invalidate_caches()
        assert len(reads) == n, "unchanged archive was re-read"

        _write_zip(archive, 22)  # rewritten in place: new size and mtime
        importlib.invalidate_caches()
        assert len(reads) == n + 1
        del sys.modules["zdmod"]
        assert importlib.import_module("zdmod").VALUE == 22

        os.remove(archive)  # stat fails: the stock re-read runs
        importlib.invalidate_caches()
        assert len(reads) == n + 2
        del sys.modules["zdmod"]
        with pytest.raises(ImportError):
            importlib.import_module("zdmod")
    finally:
        sys.path_importer_cache.pop(archive, None)


def test_python_tasks_run_under_the_worker_daemon(spark):
    def probe(batches):
        import sys
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        zips = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        for _ in batches:
            yield pd.DataFrame({
                "src": [fn.__code__.co_filename],
                "eager": [sys.version_info < (3, 13)],
                "zips": [len(zips)],
                "stamped": [sum(hasattr(z, "_read_stamp") for z in zips)],
            })

    rows = (
        spark.range(2, numPartitions=2)
        .mapInPandas(probe, "src string, eager boolean, zips int, stamped int")
        .collect()
    )
    assert len(rows) == 2
    daemon_src = os.path.join("pandas_sigproc_spark", "worker_daemon.py")
    for r in rows:
        assert r.src.endswith(daemon_src) == r.eager, r
        if r.eager and r.zips:
            # the task's own importlib.invalidate_caches() went through it
            assert r.stamped > 0, r
