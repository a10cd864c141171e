"""Exercise the .ide parse path beyond the import gate via a fake endaq.ide.

The real ``endaq`` package (and any .ide fixture) is absent from this
environment, so the reader was previously tested only for its ImportError
gate.  This double implements the two endaq.ide entry points the reader
uses — ``get_doc`` and ``to_pandas`` — with the documented shapes
(channels dict -> subchannels with displayName/units; seconds vs datetime
time modes), covering channel enumeration, name lookup, unit/start_time
extraction, and the full ingest into the canonical signals layout.
Reference surface mirrored: Endaq.channel_list / get_channel and
EndaqChannel.{time,data,name,unit,start_time} (daq/io.py:161-301).
"""

import numpy as np
import pandas as pd
import pytest

import pandas_sigproc_spark.sources.endaq as endaq_mod

T0 = pd.Timestamp("2024-03-01 12:00:00", tz="utc")


class FakeSubchannel:
    def __init__(self, name, unit, t, v):
        self.displayName = name
        self.units = ("Acceleration", unit)
        self.t = np.asarray(t, float)
        self.v = np.asarray(v, float)


class FakeChannel:
    def __init__(self, subs):
        self.subchannels = subs


class FakeDoc:
    def __init__(self, channels):
        self.channels = channels
        self.closed = False

    def close(self):
        self.closed = True


class FakeIde:
    """Stand-in for the endaq.ide module."""

    def __init__(self):
        t = np.arange(0, 1.0, 0.01)
        self.doc = FakeDoc(
            {
                8: FakeChannel(
                    [
                        FakeSubchannel("X (100g)", "g", t, np.sin(2 * np.pi * 5 * t)),
                        FakeSubchannel("Y (100g)", "g", t, np.cos(2 * np.pi * 5 * t)),
                    ]
                ),
                36: FakeChannel(
                    [FakeSubchannel("Pressure", "Pa", t[:50], np.full(50, 101325.0))]
                ),
            }
        )

    def get_doc(self, filename):
        assert filename.endswith(".ide")
        return self.doc

    def to_pandas(self, sub, time_mode="seconds", tz=None):
        if time_mode == "seconds":
            idx = pd.Index(sub.t, name="t")
        else:
            assert tz == "utc"
            idx = T0 + pd.to_timedelta(sub.t, unit="s")
        return pd.DataFrame({sub.displayName: sub.v}, index=idx)


@pytest.fixture
def fake_ide(monkeypatch):
    fake = FakeIde()
    monkeypatch.setattr(endaq_mod, "_endaq_ide", fake)
    return fake


def test_import_gate_without_endaq(monkeypatch, tmp_path):
    # A file that is not in the MIDE profile (sources/mide.py) still
    # demands the endaq package when it is absent, and the error names
    # what the file holds.
    from pandas_sigproc_spark.sources import mide

    monkeypatch.setattr(endaq_mod, "_endaq_ide", None)
    path = tmp_path / "f.ide"
    path.write_bytes(b"\x1a\x45\xdf\xa3 not-our-profile")
    with pytest.raises(ImportError, match="no EBML header.*'endaq'"):
        endaq_mod.ide_channel_list(str(path))
    # an EBML file of another DocType (an old in-house recording, say)
    old = tmp_path / "old.ide"
    old.write_bytes(mide._el(mide.EBML_HEADER, mide._el(mide.DOCTYPE, b"spark-rec")))
    with pytest.raises(ImportError, match="DocType 'spark-rec'") as err:
        endaq_mod.read_ide_channels(str(old))
    assert "endaq" in str(err.value) and str(old) in str(err.value)


def test_channel_enumeration(fake_ide):
    assert endaq_mod.ide_channel_list("rec.ide") == [
        "X (100g)",
        "Y (100g)",
        "Pressure",
    ]
    assert fake_ide.doc.closed


def test_name_lookup_and_metadata(fake_ide):
    ch = endaq_mod.read_ide_channel("rec.ide", "Pressure")
    assert ch.name == "Pressure"
    assert ch.unit == "Pa"
    assert ch.channel_id == "rec.ide:Pressure"
    # start_time: min of the UTC datetime index, made naive (io.py:251-255)
    assert ch.start_time == T0.tz_localize(None)
    assert len(ch.time) == 50
    np.testing.assert_allclose(ch.data, 101325.0)
    with pytest.raises(KeyError, match="nope"):
        endaq_mod.read_ide_channel("rec.ide", "nope")


def test_ingest_to_signals(fake_ide, spark):
    signals, catalog = endaq_mod.ingest_ide(spark, "rec.ide")
    spdf = signals.toPandas()
    assert set(spdf.channel_id.unique()) == {
        "rec.ide:X (100g)",
        "rec.ide:Y (100g)",
        "rec.ide:Pressure",
    }
    assert len(spdf) == 100 + 100 + 50
    cat = catalog.toPandas().set_index("channel_id")
    assert cat.loc["rec.ide:X (100g)", "unit"] == "g"
    assert cat.loc["rec.ide:X (100g)", "samplerate"] == pytest.approx(100.0)
    # absolute timestamps materialized from start_time origin
    x = spdf[spdf.channel_id == "rec.ide:X (100g)"].sort_values("t")
    assert x["ts"].iloc[0] == T0.tz_localize(None)


def test_single_sample_subchannel_is_1d():
    # r13 review finding: squeeze() collapsed a (1,1) frame to 0-D.
    import numpy as np

    from pandas_sigproc_spark.sources import mide
    from pandas_sigproc_spark.sources.endaq import read_ide_channels

    blob = mide.encode_mide(
        [{
            "ch_id": 1, "name": "C", "fmt": "<h",
            "subchannels": [
                {"sub_id": 0, "name": "s", "units": "", "cal_id": 1}
            ],
            "blocks": [(0, 1024, np.array([[7]], "<i2"))],
        }],
        {1: (0.0, [1.0, 0.0])},
    )
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".ide", delete=False) as fh:
        fh.write(blob)
        fn = fh.name
    (ch,) = read_ide_channels(fn)
    assert ch.data.ndim == 1 and len(ch.data) == 1


def test_ide_source_empty_dir_and_zero_channel(spark, tmp_path):
    from pandas_sigproc_spark.sources import mide
    from pandas_sigproc_spark.sources.ide_datasource import register_ide_source

    register_ide_source(spark)
    empty_dir = tmp_path / "none"
    empty_dir.mkdir()
    with pytest.raises(Exception, match="contains no .ide files") as err:
        spark.read.format("ide").load(str(empty_dir)).count()
    assert str(empty_dir) in str(err.value)

    # a zero-channel recording contributes no rows instead of crashing
    d = tmp_path / "logs"
    d.mkdir()
    ids = mide.MIDE_IDS
    empty = mide._el(
        mide.EBML_HEADER, mide._el(mide.DOCTYPE, b"mide")
    ) + mide._el(ids["RecordingProperties"], mide._el_uint(ids["TimeBaseUTC"], 0))
    (d / "empty.ide").write_bytes(empty)
    blob = mide.encode_mide(
        [{
            "ch_id": 1, "name": "C", "fmt": "<h",
            "subchannels": [
                {"sub_id": 0, "name": "s", "units": "", "cal_id": 1}
            ],
            "blocks": [(0, 2048, np.array([[1], [2]], "<i2"))],
        }],
        {1: (0.0, [1.0, 0.0])},
    )
    (d / "real.ide").write_bytes(blob)
    got = spark.read.format("ide").load(str(d))
    assert got.rdd.getNumPartitions() == 2
    assert sorted(r.value for r in got.collect()) == [1.0, 2.0]


def test_missing_file_without_endaq_is_filenotfound(monkeypatch, tmp_path):
    # r14 advice: with the endaq package absent, a plain missing path
    # must surface the real FileNotFoundError, not a misleading
    # 'install endaq' ImportError (the probe's OSError swallow only
    # defers to the package path when that path exists).
    monkeypatch.setattr(endaq_mod, "_endaq_ide", None)
    with pytest.raises(FileNotFoundError):
        endaq_mod.ide_channel_list(str(tmp_path / "nope.ide"))


def test_missing_file_with_endaq_defers_to_package(monkeypatch, tmp_path):
    # with the package present, the probe's open failure defers to the
    # package path (virtual-filesystem handles the probe cannot open)
    class _Boom:
        @staticmethod
        def get_doc(filename):
            raise RuntimeError("package-level error")

    monkeypatch.setattr(endaq_mod, "_endaq_ide", _Boom())
    with pytest.raises(RuntimeError, match="package-level error"):
        endaq_mod.ide_channel_list(str(tmp_path / "nope.ide"))
