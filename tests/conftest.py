import numpy as np
import pandas as pd
import pytest

from pandas_sigproc_spark.session import get_spark, host_cpus
from pandas_sigproc_spark.schemas import SIGNALS_SCHEMA


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pandas_sigproc_spark_tests", cpus=host_cpus())
    yield s


def make_signals(spark, channels: dict[str, tuple[np.ndarray, np.ndarray]]):
    """Build a signals DataFrame from {channel_id: (t, value)}."""
    frames = [
        pd.DataFrame(
            {"channel_id": cid, "t": np.asarray(t, np.float64),
             "value": np.asarray(v, np.float64), "ts": pd.NaT}
        )
        for cid, (t, v) in channels.items()
    ]
    return spark.createDataFrame(pd.concat(frames, ignore_index=True), schema=SIGNALS_SCHEMA)


@pytest.fixture(scope="session")
def fixture_channels():
    """FIXTURES.md channels (shortened durations to keep tests quick)."""
    out = {}
    t48 = np.arange(0, 1.0, 1 / 48000)
    out["sine_1k"] = (t48, np.sin(2 * np.pi * 1000 * t48))
    out["sine_2tone"] = (
        t48,
        np.sin(2 * np.pi * 50 * t48) + 0.5 * np.sin(2 * np.pi * 2000 * t48),
    )
    rng = np.random.default_rng(42)
    out["noise_gauss"] = (t48, rng.standard_normal(len(t48)))
    t1k = np.arange(0, 2.0, 1 / 1000)
    out["trend_ramp"] = (t1k, 0.5 * t1k + np.sin(2 * np.pi * 5 * t1k))
    out["cos_int"] = (t1k, np.cos(2 * np.pi * t1k))
    t2k = np.arange(0, 1.0, 1 / 2000)
    out["rss_x"] = (t2k, 3.0 * np.sin(2 * np.pi * 10 * t2k))
    out["rss_y"] = (t2k, 4.0 * np.sin(2 * np.pi * 10 * t2k))
    out["rss_z"] = (t2k, np.zeros_like(t2k))
    return out
