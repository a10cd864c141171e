"""q_psd_dft (relational O(N^2) DFT) vs the FFT: same segment, same power.

The relational DFT exists so the spectral tier has one fully oracle-checked
query (DuckDB can evaluate the DFT sums but not an FFT).  This test pins it
against numpy's rfft on the identical head-64 segment per channel, making
the docstring's "tests pin the two against each other" claim true.
"""

import os

import duckdb
import numpy as np
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/events.parquet"), reason="driver testdata absent"
)


def _head_segments():
    con = duckdb.connect()
    return con.sql(
        f"""
        WITH sig AS (
          SELECT CAST(user_id AS VARCHAR) AS channel_id, epoch(ts) AS t,
                 CAST(value AS DOUBLE) AS value, CAST(event_id AS BIGINT) AS seq
          FROM '{SF_DIR}/events.parquet'
        ),
        r AS (
          SELECT channel_id, value / 100.0 AS x,
                 ROW_NUMBER() OVER (PARTITION BY channel_id ORDER BY t, seq) - 1 AS rn
          FROM sig
        )
        SELECT channel_id, rn, x FROM r WHERE rn < 64 ORDER BY channel_id, rn
        """
    ).df()


def test_relational_dft_matches_fft(spark):
    out = (
        entry_mod.q_psd_dft(spark, SF_DIR)
        .toPandas()
        .sort_values(["channel_id", "k"], ignore_index=True)
    )
    seg = _head_segments()
    for cid, grp in seg.groupby("channel_id"):
        x = grp.sort_values("rn")["x"].to_numpy()
        spec = np.fft.rfft(x, n=64)
        want = np.round(np.abs(spec) ** 2, 3)
        got = out[out.channel_id == cid].sort_values("k")["power"].to_numpy()
        assert len(got) == 33
        np.testing.assert_allclose(got, want, atol=2e-3)


def _all_rows():
    con = duckdb.connect()
    return con.sql(
        f"""
        WITH sig AS (
          SELECT CAST(user_id AS VARCHAR) AS channel_id, epoch(ts) AS t,
                 CAST(value AS DOUBLE) AS value, CAST(event_id AS BIGINT) AS seq
          FROM '{SF_DIR}/events.parquet'
        )
        SELECT channel_id, value / 100.0 AS x,
               ROW_NUMBER() OVER (PARTITION BY channel_id ORDER BY t, seq) - 1 AS rn
        FROM sig ORDER BY channel_id, rn
        """
    ).df()


def test_relational_welch_dft_matches_numpy(spark):
    # q_psd_welch_dft == mean over complete segments of the hann-windowed
    # |rfft|^2 — the same summarize='mean' semantics as tools.py:74-98
    # (tails dropped per the stride-trick truncation of tools.py:67).
    out = (
        entry_mod.q_psd_welch_dft(spark, SF_DIR)
        .toPandas()
        .sort_values(["channel_id", "k"], ignore_index=True)
    )
    n = entry_mod._WELCH_DFT_N
    hann = 0.5 - 0.5 * np.cos(entry_mod._HANN_C * np.arange(n))
    rows = _all_rows()
    checked = 0
    for cid, grp in rows.groupby("channel_id"):
        x = grp.sort_values("rn")["x"].to_numpy()
        nseg = len(x) // n
        if nseg == 0:
            assert len(out[out.channel_id == cid]) == 0
            continue
        powers = [
            np.abs(np.fft.rfft(x[s * n : (s + 1) * n] * hann)) ** 2
            for s in range(nseg)
        ]
        want = np.round(np.mean(powers, axis=0), 3)
        got = out[out.channel_id == cid].sort_values("k")["power"].to_numpy()
        assert len(got) == n // 2 + 1
        np.testing.assert_allclose(got, want, atol=2e-3)
        checked += 1
    assert checked > 0


def test_psd_all_without_window_length_is_one_segment(spark):
    # summarize='all' with the default window_length crashed with
    # RESULT_COLUMN_NAMES_MISMATCH (r12 review finding, reproduced):
    # the whole signal is ONE segment, emitted as seg 0.
    import pandas as pd

    from pandas_sigproc_spark.operators.psd import get_psd

    t = np.arange(256) / 256.0
    df = spark.createDataFrame(
        pd.DataFrame(
            {"channel_id": "c", "t": t, "value": np.sin(2 * np.pi * 8 * t)}
        )
    )
    out = get_psd(df, summarize="all", samplerate=256.0).toPandas()
    assert set(out["seg"]) == {0}
    base = get_psd(df, samplerate=256.0).toPandas().sort_values("freq")
    np.testing.assert_allclose(
        out.sort_values("freq")["power"].to_numpy(),
        base["power"].to_numpy(),
    )


def test_segmented_psd_short_channel_raises_loudly(spark):
    # a channel shorter than one window previously VANISHED from the
    # segmented output (r12 review finding, reproduced); now it raises
    # like the whole-channel path.
    import pandas as pd
    import pytest

    from pandas_sigproc_spark.operators.psd import get_psd

    t = np.arange(2048) / 256.0
    big = pd.DataFrame(
        {"channel_id": "a", "t": t, "value": np.sin(2 * np.pi * 3 * t)}
    )
    small = pd.DataFrame(
        {"channel_id": "b", "t": t[:100], "value": np.ones(100)}
    )
    df = spark.createDataFrame(pd.concat([big, small]))
    with pytest.raises(Exception, match="shorter than one window"):
        get_psd(
            df, window_length=1.0, samplerate=256.0, segmented=True
        ).collect()


@pytest.mark.parametrize("n_buckets", [None, 2], ids=["per_channel", "bucketed"])
def test_whole_channel_psd_short_channel_names_it(spark, n_buckets):
    # the whole-channel refusal names the channel and its length, on the
    # per-channel and the bucketed route alike
    import pandas as pd

    from pandas_sigproc_spark.operators.psd import get_psd

    t = np.arange(2048) / 256.0
    df = spark.createDataFrame(
        pd.concat([
            pd.DataFrame({"channel_id": "long", "t": t, "value": np.sin(t)}),
            pd.DataFrame({"channel_id": "short", "t": t[:100], "value": np.ones(100)}),
        ])
    )
    with pytest.raises(
        Exception, match=r"channel 'short' has 100 sample\(s\), fewer than one"
        r" window_length of 1.0 s \(256 samples at 256.0 Hz\)"
    ):
        get_psd(
            df, window_length=1.0, samplerate=256.0, segmented=False,
            n_buckets=n_buckets,
        ).collect()


def test_segmented_true_requires_window_length(spark):
    import pandas as pd
    import pytest

    from pandas_sigproc_spark.operators.psd import get_psd

    df = spark.createDataFrame(
        pd.DataFrame({"channel_id": "c", "t": [0.0, 1.0], "value": [0.0, 1.0]})
    )
    with pytest.raises(ValueError, match="requires window_length"):
        get_psd(df, segmented=True, samplerate=2.0)


def test_srs_single_sample_channel_raises(spark):
    import pandas as pd
    import pytest

    from pandas_sigproc_spark.operators.srs import get_srs

    df = spark.createDataFrame(
        pd.DataFrame({"channel_id": ["solo"], "t": [0.0], "value": [1.0]})
    )
    with pytest.raises(Exception, match="at least 2"):
        get_srs(df, freq=np.array([10.0, 100.0]), n_buckets=2).collect()
    with pytest.raises(Exception, match="at least 2"):
        get_srs(df, freq=np.array([10.0, 100.0]), n_buckets=None).collect()
