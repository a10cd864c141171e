"""spark.read.format("ide") — the Spark 4 Python Data Source over MIDE
recordings (one input partition per file, Arrow-batched rows)."""

import numpy as np
import pytest

from pandas_sigproc_spark.sources import mide
from pandas_sigproc_spark.sources.ide_datasource import register_ide_source

TPS = mide.MIDE_TICKS_PER_SEC


def _channel(ch_id, name, sub, blocks):
    return {
        "ch_id": ch_id, "name": name, "fmt": "<h",
        "subchannels": [{"sub_id": 0, "name": sub, "units": "", "cal_id": ch_id}],
        "blocks": blocks,
    }


def _recording(tag):
    # accel at 128 Hz (256 ticks a frame): 50 frames from t=0, then 40
    # from t=0.5 s; press at 8 Hz: 3 frames
    accel = _channel(1, f"accel{tag}", "x", [
        (0, 50 * 256, np.arange(50, dtype=np.int16)[:, None]),
        (TPS // 2, TPS // 2 + 40 * 256, np.arange(50, 90, dtype=np.int16)[:, None]),
    ])
    press = _channel(2, f"press{tag}", "p", [
        (0, 3 * 4096, np.asarray([[3], [-4], [5]], dtype=np.int16)),
    ])
    # value = 0.01 * raw (accel), 2 * raw (press)
    return mide.encode_mide([accel, press], {1: (0.0, [0.01, 0.0]), 2: (0.0, [2.0, 0.0])})


@pytest.fixture(scope="module")
def ide_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("ide_ds")
    for i in range(3):
        (d / f"log{i}.ide").write_bytes(_recording(i))
    register_ide_source(spark)
    return str(d)


def test_read_directory_all_channels(spark, ide_dir):
    df = spark.read.format("ide").load(ide_dir)
    assert df.columns == ["channel_id", "t", "value"]
    assert df.count() == 3 * (90 + 3)
    # one scan partition per file
    assert df.rdd.getNumPartitions() == 3
    # value fidelity: calibrated int16 through the whole source
    vals = sorted(
        r.value for r in df.filter(df.channel_id.endswith("press1:p")).collect()
    )
    assert vals == [-8.0, 6.0, 10.0]


def test_channel_option_and_glob(spark, ide_dir):
    df = (
        spark.read.format("ide")
        .option("channel", "accel2:x")
        .load(ide_dir + "/log2.ide")
    )
    rows = df.orderBy("t").collect()
    assert len(rows) == 90
    assert rows[0].t == 0.0 and rows[-1].t == 0.5 + 39 / 128.0
    assert rows[-1].value == pytest.approx(89 * 0.01)


def test_missing_path_is_loud(spark, ide_dir):
    with pytest.raises(Exception, match="no files match"):
        spark.read.format("ide").load(ide_dir + "/nope*.ide").count()


def test_composes_with_operators(spark, ide_dir):
    from pandas_sigproc_spark.operators import rms

    df = spark.read.format("ide").load(ide_dir)
    out = {r.channel_id.split(":")[-2]: r for r in rms(df).collect()}
    exp = np.sqrt(np.mean((np.asarray([3, -4, 5]) * 2.0) ** 2))
    for tag in range(3):
        assert out[f"press{tag}"].rms == pytest.approx(exp)


def test_empty_dir_raises(tmp_path):
    from pandas_sigproc_spark.sources.ide_datasource import _expand

    d = tmp_path / "empty"
    d.mkdir()
    (d / "notes.txt").write_text("not a recording")
    with pytest.raises(FileNotFoundError, match="no .ide files"):
        _expand(str(d))


def test_channel_option_is_filter_across_files(spark, tmp_path):
    # r13 review finding: a file lacking the named channel killed the
    # whole multi-file read with KeyError; filter semantics now.
    def rec(ch_name):
        return mide.encode_mide(
            [_channel(1, ch_name, "s", [(0, 2048, np.array([[1], [2]], "<i2"))])],
            {1: (0.0, [1.0, 0.0])},
        )

    (tmp_path / "a.ide").write_bytes(rec("Accel"))
    (tmp_path / "b.ide").write_bytes(rec("Temp"))
    register_ide_source(spark)
    df = (
        spark.read.format("ide")
        .option("channel", "Accel:s")
        .load(str(tmp_path))
    )
    rows = df.collect()
    assert len(rows) == 2  # only a.ide contributes; b.ide yields no rows
    assert all("Accel" in r["channel_id"] for r in rows)
