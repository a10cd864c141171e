"""Byte-level EBML parse of the MIDE profile (sources/mide.py) + the .ide
reader dispatch (sources/endaq.py) and ``spark.read.format("ide")``.

The fixture here is built byte by byte with the test's own tiny encoder
(RFC 8794 varints, nested container sizes) — independent of
``mide.encode_mide`` — so the decoder is proven against raw wire bytes,
not a roundtrip through the module under test.  It carries the hardware
layout genuine recorders write: interleaved int16 subchannel frames,
start/end tick time codes stored modulo 2**24 (block 0 straddles the
wrap), and a calibration polynomial per subchannel.  The tests drive the
whole ingest path over it: varint edge cases, DocType detection, channel
reconstruction with the reference's field semantics
(``daq/io.py:242-301`` — seconds time base, displayName, unit,
start_time), the catalog rows of ``ingest_ide`` and the data source.
"""

import struct
from datetime import datetime

import numpy as np
import pytest

from pandas_sigproc_spark.sources import mide

IDS = mide.MIDE_IDS
MOD = mide.MIDE_TIMECODE_MODULUS
TPS = mide.MIDE_TICKS_PER_SEC


def test_varint_widths_and_errors():
    # 1-byte size (marker 0x80): value 0x05
    assert mide._read_vint(b"\x85", 0, keep_marker=False) == (5, 1)
    # 2-byte size: 0x40 0x05 -> 5
    assert mide._read_vint(b"\x40\x05", 0, keep_marker=False) == (5, 2)
    # ids keep the marker (class-A id 0x85 stays 0x85)
    assert mide._read_vint(b"\x85", 0, keep_marker=True) == (0x85, 1)
    with pytest.raises(ValueError):
        mide._read_vint(b"", 0, keep_marker=False)
    with pytest.raises(ValueError):
        mide._read_vint(b"\x40", 0, keep_marker=False)  # truncated body
    with pytest.raises(ValueError):
        mide._read_vint(b"\x00\x01", 0, keep_marker=False)  # >8-byte width
    with pytest.raises(ValueError):  # all-ones = unknown size: rejected
        mide._read_vint(b"\xff", 0, keep_marker=False)


def test_element_overrun_is_loud():
    # Claim a 10-byte payload inside a 4-byte buffer.
    bad = b"\x42\x82\x8a" + b"xx"
    with pytest.raises(ValueError):
        list(mide.iter_elements(bad, 0, len(bad)))


# ---------------------------------------------------------------------------
# the hand-rolled hardware-layout fixture
# ---------------------------------------------------------------------------


def _hw_el(name, payload: bytes) -> bytes:
    eid = IDS.get(name, name)
    ident = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
    n = len(payload)
    for width in range(1, 9):
        if n < (1 << (7 * width)) - 1:
            size = (n | (1 << (7 * width))).to_bytes(width, "big")
            break
    return ident + size + payload


def _hw_uint(name, val: int) -> bytes:
    return _hw_el(name, val.to_bytes(max((val.bit_length() + 7) // 8, 1), "big"))


def _hw_f64(name, val: float) -> bytes:
    return _hw_el(name, struct.pack(">d", val))


# (name, units, cal_id, reference, coeffs highest-order first)
ACCEL_SUBS = [
    ("X", "g", 1, 0.0, [0.01, -0.5]),
    ("Y", "g", 2, 2048.0, [0.02, 0.25]),
    ("Z", "g", 3, 0.0, [0.001, 0.0]),
]
PRESSURE_CAL = (9, 0.0, [2.5, 0.0])
# block 0: 4 frames starting 128 ticks before the 2**24 wrap (its stored
# end code is below its start); block 1: 2 frames 0.5 s later.  64 ticks
# per frame = 512 Hz.
ACCEL_F0 = np.array(
    [[100, -200, 300], [101, -201, 301], [102, -202, 302], [103, -203, 303]],
    dtype="<i2",
)
ACCEL_F1 = np.array([[-32768, 0, 32767], [7, -7, 7]], dtype="<i2")
ACCEL_BLOCKS = [(MOD - 128, MOD + 128, ACCEL_F0), (MOD - 128 + TPS // 2, MOD + TPS // 2, ACCEL_F1)]
PRESSURE_BLOCK = (1024, 1024 + 3 * 4096, np.array([[-32768], [0], [32767]], dtype="<i2"))
TIME_BASE_UTC = 1_704_067_200  # 2024-01-01 00:00:00


def _hw_recording(tag: str = "") -> bytes:
    """A 3-axis accelerometer channel plus a pressure channel, in the
    element order a recorder writes them."""
    accel_subs = b"".join(
        _hw_el(
            "SubChannel",
            _hw_uint("SubChannelID", k)
            + _hw_el("SubChannelName", name.encode())
            + _hw_el("SubChannelUnits", units.encode())
            + _hw_uint("SubChannelCalIDRef", cal_id),
        )
        for k, (name, units, cal_id, _ref, _coeffs) in enumerate(ACCEL_SUBS)
    )
    channels = _hw_el(
        "Channel",
        _hw_uint("ChannelID", 8)
        + _hw_el("ChannelName", f"Acceleration{tag}".encode())
        + _hw_el("ChannelFormat", b"<hhh")
        + accel_subs,
    ) + _hw_el(
        "Channel",
        _hw_uint("ChannelID", 36)
        + _hw_el("ChannelName", f"Pressure{tag}".encode())
        + _hw_el("ChannelFormat", b"<h")
        + _hw_el(
            "SubChannel",
            _hw_uint("SubChannelID", 0)
            + _hw_el("SubChannelName", b"P")
            + _hw_el("SubChannelUnits", b"Pa")
            + _hw_uint("SubChannelCalIDRef", PRESSURE_CAL[0]),
        ),
    )
    cals = b"".join(
        _hw_el(
            "UnivariatePolynomial",
            _hw_uint("CalID", cal_id)
            + _hw_f64("CalReferenceValue", ref)
            + b"".join(_hw_f64("PolynomialCoef", c) for c in coeffs),
        )
        for cal_id, ref, coeffs in [s[2:] for s in ACCEL_SUBS] + [PRESSURE_CAL]
    )
    props = _hw_el(
        "RecordingProperties",
        _hw_uint("TimeBaseUTC", TIME_BASE_UTC)
        + _hw_el("ChannelList", channels)
        + _hw_el("CalibrationList", cals),
    )
    blocks = b"".join(
        _hw_el(
            "ChannelDataBlock",
            _hw_uint("ChannelIDRef", ch_id)
            + _hw_uint("StartTimeCodeAbs", start % MOD)
            + _hw_uint("EndTimeCodeAbs", end % MOD)
            + _hw_el("ChannelDataPayload", frames.tobytes()),
        )
        for ch_id, (start, end, frames) in [(8, b) for b in ACCEL_BLOCKS]
        + [(36, PRESSURE_BLOCK)]
    )
    header = _hw_el(mide.EBML_HEADER, _hw_el(mide.DOCTYPE, b"mide"))
    return header + props + blocks


def _expected_times(blocks) -> np.ndarray:
    return np.concatenate(
        [
            (start + np.arange(len(f), dtype=np.float64) * ((end - start) / len(f)))
            / TPS
            for start, end, f in blocks
        ]
    )


NAMES = ["Acceleration:X", "Acceleration:Y", "Acceleration:Z", "Pressure:P"]
N_ROWS = 3 * 6 + 3  # 3 axes x 6 frames + 3 pressure samples


def test_recording_roundtrip_field_semantics():
    chans = mide.read_mide_channels(_hw_recording(), source="fx")
    assert [c.name for c in chans] == NAMES
    by = {c.name: c for c in chans}
    p = by["Pressure:P"]
    assert p.channel_id == "fx:Pressure:P"
    assert p.unit == "Pa"
    # seconds time base: 4096 ticks per frame = 0.125 s
    np.testing.assert_array_equal(p.time, (1024 + 4096 * np.arange(3)) / TPS)
    np.testing.assert_array_equal(p.data, [-32768 * 2.5, 0.0, 32767 * 2.5])
    # start_time is the epoch of tick zero for every channel
    for c in chans:
        assert c.start_time == datetime(2024, 1, 1, 0, 0, 0)
    assert by["Acceleration:X"].unit == "g"


def test_is_mide_rejects_other_bytes():
    assert mide.is_mide(_hw_recording())
    assert not mide.is_mide(b"RIFF....WAVE")
    assert not mide.is_mide(b"")
    # valid EBML header but foreign doctype
    foreign = _hw_el(mide.EBML_HEADER, _hw_el(mide.DOCTYPE, b"matroska"))
    assert not mide.is_mide(foreign)
    assert mide.doctype(foreign) == b"matroska"
    assert mide.doctype(b"RIFF....WAVE") is None


def test_endaq_reader_falls_back_to_builtin_parser(tmp_path):
    from pandas_sigproc_spark.sources.endaq import (
        ide_channel_list,
        read_ide_channel,
        read_ide_channels,
    )

    path = str(tmp_path / "rec0.ide")
    with open(path, "wb") as fh:
        fh.write(_hw_recording())

    assert ide_channel_list(path) == NAMES
    ch = read_ide_channel(path, "Pressure:P")
    assert ch.unit == "Pa" and len(ch.data) == 3
    with pytest.raises(KeyError):
        read_ide_channel(path, "nope")
    assert len(read_ide_channels(path)) == 4

    # non-MIDE bytes still demand the real endaq package
    other = str(tmp_path / "foreign.ide")
    with open(other, "wb") as fh:
        fh.write(b"\x1aEbml-but-not-ours")
    with pytest.raises(ImportError, match="endaq"):
        read_ide_channels(other)


def test_ingest_ide_catalog_rows(spark, tmp_path):
    from pandas_sigproc_spark.sources.endaq import ingest_ide

    path = str(tmp_path / "rec1.ide")
    with open(path, "wb") as fh:
        fh.write(_hw_recording())
    signals, catalog = ingest_ide(spark, path)
    cat = {r.name: r for r in catalog.collect()}
    assert set(cat) == set(NAMES)
    assert cat["Acceleration:X"].unit == "g"
    assert cat["Pressure:P"].unit == "Pa"
    assert cat["Acceleration:X"].start_time == datetime(2024, 1, 1, 0, 0, 0)
    assert signals.count() == N_ROWS


def test_ide_dir_to_partitioned_parquet(spark, tmp_path):
    # Directory ingest, one task per file, over REAL EBML bytes through
    # the built-in parser — no endaq package, no mocks: files ->
    # executor-side parse -> canonical parquet partitioned by channel.
    from pandas_sigproc_spark.sources.ide_datasource import register_ide_source

    d = tmp_path / "logs"
    d.mkdir()
    for i in range(2):
        (d / f"rec_dir{i}.ide").write_bytes(_hw_recording(f"#{i}"))
    register_ide_source(spark)
    out = str(tmp_path / "ide_parquet")
    src = spark.read.format("ide").load(str(d))
    assert src.rdd.getNumPartitions() == 2
    src.write.partitionBy("channel_id").parquet(out)
    df = spark.read.parquet(out)
    assert df.count() == 2 * N_ROWS
    names = {
        r.channel_id.split("/")[-1].split(":", 1)[1]
        for r in df.select("channel_id").distinct().collect()
    }
    assert names == {
        f"{n.replace(':', f'#{i}:')}" for n in NAMES for i in range(2)
    }
    # value fidelity through the distributed path: calibrated int16
    pr = (
        df.filter(df.channel_id.endswith("Pressure#1:P"))
        .toPandas().sort_values("t")["value"].to_numpy()
    )
    np.testing.assert_array_equal(pr, [-32768 * 2.5, 0.0, 32767 * 2.5])


def test_hw_layout_deinterleave_and_calibration():
    chans = {c.name: c for c in mide.read_mide_channels(_hw_recording(), source="hw")}
    raw = np.concatenate([ACCEL_F0, ACCEL_F1]).astype(np.float64)
    # unwrapped tick codes, linear per block: block 0 starts 128 ticks
    # before the wrap, so sample 2 sits exactly on tick 2**24
    t_expected = _expected_times(ACCEL_BLOCKS)
    assert t_expected[2] == MOD / TPS
    assert np.all(np.diff(t_expected) > 0)
    for k, (name, unit, _cal, ref, (b, a)) in enumerate(ACCEL_SUBS):
        ch = chans[f"Acceleration:{name}"]
        assert ch.unit == unit
        np.testing.assert_array_equal(ch.time, t_expected)
        np.testing.assert_array_equal(ch.data, b * (raw[:, k] - ref) + a)
    # int16 extremes survive calibration exactly
    z = chans["Acceleration:Z"]
    assert z.data[4] == 0.001 * 32767.0


def test_hw_layout_roundtrips_through_module_encoder():
    # The module's encoder writes the same wire bytes as the hand-rolled
    # layout, so its roundtrip tests speak for recorder bytes too.
    channels = [
        {
            "ch_id": 8, "name": "Acceleration", "fmt": "<hhh",
            "subchannels": [
                {"sub_id": k, "name": n, "units": u, "cal_id": c}
                for k, (n, u, c, _r, _co) in enumerate(ACCEL_SUBS)
            ],
            "blocks": ACCEL_BLOCKS,
        },
        {
            "ch_id": 36, "name": "Pressure", "fmt": "<h",
            "subchannels": [
                {"sub_id": 0, "name": "P", "units": "Pa", "cal_id": PRESSURE_CAL[0]}
            ],
            "blocks": [PRESSURE_BLOCK],
        },
    ]
    cals = {c: (r, co) for _n, _u, c, r, co in ACCEL_SUBS}
    cals[PRESSURE_CAL[0]] = PRESSURE_CAL[1:]
    blob = mide.encode_mide(channels, cals, time_base_utc=TIME_BASE_UTC)
    assert blob == _hw_recording()


def test_hw_layout_rejects_ragged_frames():
    # MIDE data blocks sit at the root: append one whose 4-byte payload
    # is not a whole number of 6-byte '<hhh' frames
    bad = _hw_el(
        "ChannelDataBlock",
        _hw_uint("ChannelIDRef", 8)
        + _hw_uint("StartTimeCodeAbs", 99)
        + _hw_uint("EndTimeCodeAbs", 163)
        + _hw_el("ChannelDataPayload", np.array([1, 2], dtype="<i2").tobytes()),
    )
    with pytest.raises(ValueError, match="not whole frames"):
        mide.read_mide_channels(_hw_recording() + bad)


def test_hw_layout_through_spark_ide_source(spark, tmp_path):
    d = tmp_path / "hwlogs"
    d.mkdir()
    (d / "accel.ide").write_bytes(_hw_recording())
    from pandas_sigproc_spark.sources.ide_datasource import register_ide_source

    register_ide_source(spark)
    df = spark.read.format("ide").load(str(d))
    rows = df.orderBy("channel_id", "t").collect()
    assert len(rows) == N_ROWS
    raw = np.concatenate([ACCEL_F0, ACCEL_F1]).astype(np.float64)
    x = [r for r in rows if r.channel_id.endswith(":X")]
    assert [r.value for r in x] == list(0.01 * raw[:, 0] - 0.5)
    assert [r.t for r in x] == list(_expected_times(ACCEL_BLOCKS))
    assert x[4].t == (MOD - 128 + TPS // 2) / TPS
