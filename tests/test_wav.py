"""WAV sink/source tests (reference tools.py:227-254 parity)."""

import numpy as np
import pytest

from pandas_sigproc_spark.sources.wav import (
    read_wav,
    signals_to_wav,
    wav_to_signals,
    write_wav,
)


def test_roundtrip_float64_stereo(tmp_path):
    t = np.arange(0, 0.1, 1 / 8000)
    left = np.sin(2 * np.pi * 440 * t)
    right = np.sin(2 * np.pi * 880 * t)
    p = str(tmp_path / "st.wav")
    write_wav(p, 8000, left, right)
    rate, arr = read_wav(p)
    assert rate == 8000 and arr.shape == (len(t), 2)
    assert np.array_equal(arr[:, 0], left)  # IEEE float: verbatim
    assert np.array_equal(arr[:, 1], right)


def test_mono_duplicates_left(tmp_path):
    left = np.linspace(-1, 1, 100)
    p = str(tmp_path / "mono.wav")
    write_wav(p, 44100, left)  # tools.py:246-247
    _, arr = read_wav(p)
    assert np.array_equal(arr[:, 0], arr[:, 1])


def test_int16_pcm_roundtrip(tmp_path):
    x = (np.sin(np.linspace(0, 20, 500)) * 32000).astype(np.int16)
    p = str(tmp_path / "pcm.wav")
    write_wav(p, 16000, x)
    rate, arr = read_wav(p)
    assert rate == 16000 and arr.dtype == np.int16
    assert np.array_equal(arr[:, 0], x)


def test_spark_roundtrip(spark, tmp_path):
    t = np.arange(0, 0.05, 1 / 8000)
    left = np.cos(2 * np.pi * 100 * t)
    p = str(tmp_path / "rt.wav")
    write_wav(p, 8000, left)
    sig = wav_to_signals(spark, p, channel_prefix="tone")
    assert set(r["channel_id"] for r in sig.select("channel_id").distinct().collect()) == {
        "tone_L",
        "tone_R",
    }
    out = str(tmp_path / "rt2.wav")
    signals_to_wav(sig, out, 8000, "tone_L", "tone_R")
    rate, arr = read_wav(out)
    assert rate == 8000
    assert np.allclose(arr[:, 0], left)


def test_missing_channel_raises(spark, tmp_path):
    t = np.arange(0, 0.01, 1 / 8000)
    p = str(tmp_path / "m.wav")
    write_wav(p, 8000, np.sin(t))
    sig = wav_to_signals(spark, p)
    with pytest.raises(ValueError, match="not found"):
        signals_to_wav(sig, str(tmp_path / "x.wav"), 8000, "nope")


def test_ide_source_is_import_gated(tmp_path):
    import pytest as _pytest

    from pandas_sigproc_spark.sources.endaq import read_ide_channels

    # A real file that is NOT in the MIDE profile (sources/mide.py
    # reads those without the package) still demands the endaq
    # dependency.
    p = tmp_path / "foreign.ide"
    p.write_bytes(b"\x1a\x45\xdf\xa3 foreign-ide-bytes")
    with _pytest.raises(ImportError, match="endaq"):
        read_ide_channels(str(p))


class TestCollectChannel:
    def test_roundtrip_through_canonical_layout(self, spark):
        # Channel -> canonical signals -> collect_channel reproduces the
        # reference's to_pandas() shape: datetime index from start_time,
        # unit in Series.attrs, values bit-identical.
        from datetime import datetime

        import numpy as np
        import pandas as pd

        from pandas_sigproc_spark.sources import (
            Channel,
            channels_to_signals,
            collect_channel,
        )

        t = np.arange(0, 1.0, 0.125)
        v = np.arange(8.0) * 1.5
        ch = Channel(
            channel_id="acc_x",
            time=t,
            data=v,
            name="Accel X",
            unit="g",
            start_time=datetime(2024, 1, 1, 12, 0, 0),
        )
        signals, catalog = channels_to_signals(spark, [ch])
        s = collect_channel(signals, "acc_x", catalog)
        assert s.name == "Accel X"
        assert s.attrs["unit"] == "g"
        assert isinstance(s.index, pd.DatetimeIndex)
        assert s.index[0] == pd.Timestamp("2024-01-01 12:00:00")
        np.testing.assert_array_equal(s.to_numpy(), v)

    def test_relative_time_without_catalog(self, spark):
        import numpy as np

        from pandas_sigproc_spark.sources import (
            Channel,
            channels_to_signals,
            collect_channel,
        )

        t = np.arange(0, 1.0, 0.25)
        ch = Channel(channel_id="c0", time=t, data=t * 2)
        signals, _ = channels_to_signals(spark, [ch])
        s = collect_channel(signals, "c0")
        assert s.index.name == "time"
        np.testing.assert_allclose(s.index.to_numpy(), t)
        np.testing.assert_allclose(s.to_numpy(), t * 2)


# --- playsound (reference extension.py:436-450) ------------------------------


class _FakeSD:
    def __init__(self):
        self.played = None
        self.waited = False

    def play(self, y, fs):
        self.played = (y.copy(), fs)

    def wait(self):
        self.waited = True


def _uniform_signals(spark, fs=100.0, n=64):
    import pandas as pd

    t = [i / fs for i in range(n)]
    return spark.createDataFrame(
        pd.DataFrame(
            {"channel_id": "mic", "t": t, "value": [float(i % 7) for i in range(n)]}
        )
    )


def test_playsound_plays_at_inferred_rate(spark, monkeypatch):
    import pandas_sigproc_spark.sources.wav as wav_mod

    fake = _FakeSD()
    monkeypatch.setattr(wav_mod, "_sd", fake)
    fs = wav_mod.playsound(_uniform_signals(spark, fs=100.0), "mic")
    assert fs == 100.0
    y, rate = fake.played
    assert rate == 100.0
    assert list(y[:7]) == [0, 1, 2, 3, 4, 5, 6]
    assert not fake.waited
    wav_mod.playsound(_uniform_signals(spark, fs=100.0), "mic", wait=True)
    assert fake.waited


def test_playsound_gates_and_refusals(spark, monkeypatch):
    import pandas as pd

    import pandas_sigproc_spark.sources.wav as wav_mod

    monkeypatch.setattr(wav_mod, "_sd", None)
    with pytest.raises(ImportError, match="sounddevice"):
        wav_mod.playsound(_uniform_signals(spark), "mic")

    fake = _FakeSD()
    monkeypatch.setattr(wav_mod, "_sd", fake)
    with pytest.raises(ValueError, match="not found"):
        wav_mod.playsound(_uniform_signals(spark), "nope")
    jitter = spark.createDataFrame(
        pd.DataFrame(
            {"channel_id": "j", "t": [0.0, 0.5, 0.6, 2.0], "value": [0.0] * 4}
        )
    )
    with pytest.raises(ValueError, match="uniform"):
        wav_mod.playsound(jitter, "j")
    assert fake.played is None  # nothing was ever sent to the device
