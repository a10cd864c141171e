"""The MIDE-profile reader (sources/mide.py MIDE_IDS table — r11
verdict item 3: the genuine-recorder seam): struct-format payload
unpack, start/end time-code interpolation, modulo-2**24 timestamp
unwrap, referenced univariate polynomial calibration, and the dispatch
through sources/endaq.py + spark.read.format("ide").

The numeric element ids live in the ONE swappable table
(mide.MIDE_IDS); these tests pin the structural semantics the public
idelib documentation describes, so a future table correction against
the published mide_ide.xml changes nothing here.
"""

import numpy as np
import pytest

from pandas_sigproc_spark.sources import mide

MOD = mide.MIDE_TIMECODE_MODULUS
TPS = mide.MIDE_TICKS_PER_SEC


def _fixture():
    accel_frames0 = np.array(
        [[-5, 10, 100], [0, -2048, 200], [5, 2048, -300], [7, 9, 11]],
        dtype=np.int16,
    )
    accel_frames1 = np.array(
        [[1, 2, 3], [4, 5, 6], [7, 8, 9], [-1, -2, -3]], dtype=np.int16
    )
    channels = [
        {
            "ch_id": 8,
            "name": "Accel",
            "fmt": "<hhh",
            "subchannels": [
                {"sub_id": 0, "name": "X", "units": "g", "cal_id": 1},
                {"sub_id": 1, "name": "Y", "units": "g", "cal_id": 2},
                {"sub_id": 2, "name": "Z", "units": "g", "cal_id": 3},
            ],
            # block 0 STRADDLES the 2**24 rollover (end wraps); block 1
            # starts after it (start wraps relative to block 0's start)
            "blocks": [
                (16_770_000, 16_778_192, accel_frames0),
                (16_778_192, 16_786_384, accel_frames1),
            ],
        },
        {
            "ch_id": 36,
            "name": "Temp",
            "fmt": "<h",
            "subchannels": [
                {"sub_id": 0, "name": "T", "units": "degC", "cal_id": 9},
            ],
            "blocks": [(1024, 1024 + 2 * TPS, np.array([[10], [20]]))],
        },
    ]
    cals = {
        1: (0.0, [1.0 / 128, 0.25]),  # v = raw/128 + 0.25
        2: (2048.0, [1.0 / 64, 0.0]),  # v = (raw-2048)/64
        3: (0.0, [1e-6, 1.0 / 256, 1.0]),  # quadratic polyval
        9: (0.0, [0.5, -40.0]),
    }
    return channels, cals


def test_mide_roundtrip_unwrap_and_calibration():
    channels, cals = _fixture()
    blob = mide.encode_mide(channels, cals, time_base_utc=1_704_067_200)
    assert mide.is_mide(blob)
    out = {c.name: c for c in mide.read_mide_channels(blob, source="fx")}
    assert set(out) == {"Accel:X", "Accel:Y", "Accel:Z", "Temp:T"}

    # times: linear interpolation between UNWRAPPED start/end ticks;
    # both blocks span 8192 ticks over 4 frames -> 2048 ticks/frame
    starts = [16_770_000, 16_778_192]
    expect_t = np.concatenate(
        [s + np.arange(4) * 2048.0 for s in starts]
    ) / TPS
    for name in ("Accel:X", "Accel:Y", "Accel:Z"):
        assert np.array_equal(out[name].time, expect_t)

    raw = np.concatenate(
        [channels[0]["blocks"][0][2], channels[0]["blocks"][1][2]]
    ).astype(np.float64)
    assert np.array_equal(out["Accel:X"].data, raw[:, 0] / 128 + 0.25)
    assert np.array_equal(out["Accel:Y"].data, (raw[:, 1] - 2048) / 64)
    assert np.array_equal(
        out["Accel:Z"].data, 1e-6 * raw[:, 2] ** 2 + raw[:, 2] / 256 + 1.0
    )
    assert out["Accel:X"].unit == "g"
    assert out["Temp:T"].unit == "degC"
    assert np.array_equal(
        out["Temp:T"].data, np.array([10.0, 20.0]) * 0.5 - 40.0
    )
    # Temp block: 2*TPS ticks over 2 frames -> exactly 1 s apart
    assert np.array_equal(
        out["Temp:T"].time, (1024 + np.array([0.0, TPS])) / TPS
    )
    # start_time = TimeBaseUTC + first tick seconds
    assert out["Temp:T"].start_time.year == 2024


def test_mide_wrap_monotonic_over_many_blocks():
    # 6 blocks of 2 frames crossing the modulus twice-ish: times must
    # come out strictly increasing after the unwrap.
    frames = np.array([[1], [2]], dtype=np.int16)
    span = MOD // 2 + 4096  # forces frequent wrap steps
    blocks = [
        (i * span, i * span + 2048, frames) for i in range(6)
    ]
    channels = [
        {
            "ch_id": 1,
            "name": "C",
            "fmt": "<h",
            "subchannels": [
                {"sub_id": 0, "name": "s", "units": "", "cal_id": 1}
            ],
            "blocks": blocks,
        }
    ]
    blob = mide.encode_mide(channels, {1: (0.0, [1.0, 0.0])})
    (ch,) = mide.read_mide_channels(blob)
    assert np.all(np.diff(ch.time) > 0)
    expect = np.concatenate(
        [i * span + np.array([0.0, 1024.0]) for i in range(6)]
    ) / TPS
    assert np.array_equal(ch.time, expect)


def test_mide_payload_must_be_whole_frames():
    # hand-build a block whose payload is not a whole number of
    # "<hh" frames (3 bytes into a 4-byte frame): loud decode error
    ids = mide.MIDE_IDS
    props = mide._el(
        ids["RecordingProperties"],
        mide._el_uint(ids["TimeBaseUTC"], 0)
        + mide._el(
            ids["ChannelList"],
            mide._el(
                ids["Channel"],
                mide._el_uint(ids["ChannelID"], 1)
                + mide._el(ids["ChannelName"], b"C")
                + mide._el(ids["ChannelFormat"], b"<hh")
                + mide._el(
                    ids["SubChannel"],
                    mide._el_uint(ids["SubChannelID"], 0)
                    + mide._el(ids["SubChannelName"], b"a")
                    + mide._el(ids["SubChannelUnits"], b"")
                    + mide._el_uint(ids["SubChannelCalIDRef"], 1),
                )
                + mide._el(
                    ids["SubChannel"],
                    mide._el_uint(ids["SubChannelID"], 1)
                    + mide._el(ids["SubChannelName"], b"b")
                    + mide._el(ids["SubChannelUnits"], b"")
                    + mide._el_uint(ids["SubChannelCalIDRef"], 1),
                ),
            ),
        )
        + mide._el(ids["CalibrationList"], b""),
    )
    block = mide._el(
        ids["ChannelDataBlock"],
        mide._el_uint(ids["ChannelIDRef"], 1)
        + mide._el_uint(ids["StartTimeCodeAbs"], 0)
        + mide._el_uint(ids["EndTimeCodeAbs"], 2048)
        + mide._el(ids["ChannelDataPayload"], b"\x01\x02\x03"),
    )
    header = mide._el(mide.EBML_HEADER, mide._el(mide.DOCTYPE, b"mide"))
    with pytest.raises(ValueError, match="whole"):
        mide.read_mide_channels(header + props + block)


def test_endaq_fallback_dispatches_mide(tmp_path):
    from pandas_sigproc_spark.sources.endaq import (
        ide_channel_list,
        read_ide_channel,
        read_ide_channels,
    )

    channels, cals = _fixture()
    fn = tmp_path / "rec.ide"
    fn.write_bytes(mide.encode_mide(channels, cals))
    names = ide_channel_list(str(fn))
    assert names == ["Accel:X", "Accel:Y", "Accel:Z", "Temp:T"]
    assert len(read_ide_channels(str(fn))) == 4
    ch = read_ide_channel(str(fn), "Accel:Y")
    assert ch.unit == "g"
    with pytest.raises(KeyError):
        read_ide_channel(str(fn), "nope")


def test_ide_datasource_reads_mide_profile(spark, tmp_path):
    from pandas_sigproc_spark.sources.ide_datasource import (
        register_ide_source,
    )

    channels, cals = _fixture()
    (tmp_path / "a.ide").write_bytes(mide.encode_mide(channels, cals))
    register_ide_source(spark)
    df = (
        spark.read.format("ide")
        .option("channel", "Temp:T")
        .load(str(tmp_path))
    )
    rows = sorted(df.collect(), key=lambda r: r["t"])
    assert [r["value"] for r in rows] == [-35.0, -30.0]
    assert rows[0]["channel_id"].endswith(":Temp:T")


def test_mide_zero_frame_block_advances_unwrap_without_crash():
    # a zero-frame block (recorder closed at shutdown) must emit no
    # samples but still advance the channel's unwrap state
    frames = np.array([[7]], dtype=np.int16)
    channels = [
        {
            "ch_id": 2,
            "name": "C",
            "fmt": "<h",
            "subchannels": [
                {"sub_id": 0, "name": "s", "units": "", "cal_id": 1}
            ],
            "blocks": [
                (MOD - 1024, MOD, np.zeros((0, 1), dtype=np.int16)),
                (MOD, MOD + 1024, frames),  # stored start wraps to 0
            ],
        }
    ]
    blob = mide.encode_mide(channels, {1: (0.0, [1.0, 0.0])})
    (ch,) = mide.read_mide_channels(blob)
    # the empty block advanced last_tick to MOD, so the second block's
    # stored start of 0 unwraps to exactly MOD
    assert np.array_equal(ch.time, np.array([MOD / TPS]))
    assert np.array_equal(ch.data, np.array([7.0]))


def test_mide_dangling_cal_ref_is_loud():
    channels, cals = _fixture()
    del cals[2]  # Accel:Y now references a missing polynomial
    blob = mide.encode_mide(channels, cals)
    with pytest.raises(ValueError, match="calibration"):
        mide.read_mide_channels(blob)


def test_mide_start_time_is_epoch_of_tick_zero():
    # ts = start_time + t downstream (channel.py), and t is already
    # absolute ticks from TimeBaseUTC — start_time must NOT include
    # t[0] or the first absolute timestamp double-counts the offset
    from datetime import datetime

    frames = np.array([[1], [2]], dtype=np.int16)
    channels = [
        {
            "ch_id": 1,
            "name": "C",
            "fmt": "<h",
            "subchannels": [
                {"sub_id": 0, "name": "s", "units": "", "cal_id": 1}
            ],
            # first block starts 100 s into the recording
            "blocks": [(100 * TPS, 100 * TPS + 2048, frames)],
        }
    ]
    blob = mide.encode_mide(
        channels, {1: (0.0, [1.0, 0.0])}, time_base_utc=1_704_067_200
    )
    (ch,) = mide.read_mide_channels(blob)
    assert ch.start_time == datetime(2024, 1, 1, 0, 0, 0)
    assert ch.time[0] == 100.0  # absolute seconds from tick zero


def test_mide_format_subchannel_mismatch_is_loud():
    # hand-built (the encoder refuses to produce this): fmt "<hh"
    # packs 2 values/frame but THREE SubChannels are declared — the
    # exact shape a wrong MIDE_IDS transcription yields on a genuine
    # file; payload is a whole number of frames so the earlier check
    # passes and the declared-count check must fire
    ids = mide.MIDE_IDS

    def sub(i):
        return mide._el(
            ids["SubChannel"],
            mide._el_uint(ids["SubChannelID"], i)
            + mide._el(ids["SubChannelName"], b"s%d" % i)
            + mide._el(ids["SubChannelUnits"], b"")
            + mide._el_uint(ids["SubChannelCalIDRef"], 1),
        )

    props = mide._el(
        ids["RecordingProperties"],
        mide._el_uint(ids["TimeBaseUTC"], 0)
        + mide._el(
            ids["ChannelList"],
            mide._el(
                ids["Channel"],
                mide._el_uint(ids["ChannelID"], 1)
                + mide._el(ids["ChannelName"], b"C")
                + mide._el(ids["ChannelFormat"], b"<hh")
                + sub(0)
                + sub(1)
                + sub(2),
            ),
        )
        + mide._el(
            ids["CalibrationList"],
            mide._el(
                ids["UnivariatePolynomial"],
                mide._el_uint(ids["CalID"], 1)
                + mide._el(
                    ids["CalReferenceValue"], b"\x00" * 8
                )
                + mide._el(ids["PolynomialCoef"], b"\x3f\xf0" + b"\x00" * 6),
            ),
        ),
    )
    block = mide._el(
        ids["ChannelDataBlock"],
        mide._el_uint(ids["ChannelIDRef"], 1)
        + mide._el_uint(ids["StartTimeCodeAbs"], 0)
        + mide._el_uint(ids["EndTimeCodeAbs"], 2048)
        + mide._el(ids["ChannelDataPayload"], b"\x01\x00\x02\x00"),
    )
    header = mide._el(mide.EBML_HEADER, mide._el(mide.DOCTYPE, b"mide"))
    with pytest.raises(ValueError, match="subchannels"):
        mide.read_mide_channels(header + props + block)


def test_mide_unknown_vocabulary_is_loud():
    # ADVICE r12 (medium): a DocType-'mide' file whose root element ids
    # don't match MIDE_IDS must refuse loudly, not ingest an empty
    # corpus.  Scramble every RecordingProperties/ChannelDataBlock id by
    # re-wrapping the real payloads under foreign ids.
    channels, cals = _fixture()
    blob = mide.encode_mide(channels, cals, time_base_utc=0)
    rewrapped = []
    for eid, s, e in mide.iter_elements(blob, 0, len(blob)):
        if eid == mide.EBML_HEADER:
            rewrapped.append(mide._el(eid, blob[s:e]))
        else:
            rewrapped.append(mide._el(0x5AFE, blob[s:e]))  # foreign id
    scrambled = b"".join(rewrapped)
    assert mide.is_mide(scrambled)  # header intact: it IS a mide file
    with pytest.raises(ValueError, match="mide_parse_report"):
        mide.read_mide_channels(scrambled)
    # ... and the named unrecognized id appears in the message
    with pytest.raises(ValueError, match="0x5afe"):
        mide.read_mide_channels(scrambled)


def test_mide_blocks_without_channel_table_are_loud():
    # Data blocks matched but no channel table: also a vocabulary (or
    # truncation) problem, reported with the block count.
    ids = mide.MIDE_IDS
    block = mide._el(
        ids["ChannelDataBlock"],
        mide._el_uint(ids["ChannelIDRef"], 1)
        + mide._el_uint(ids["StartTimeCodeAbs"], 0)
        + mide._el_uint(ids["EndTimeCodeAbs"], 2048)
        + mide._el(ids["ChannelDataPayload"], b"\x01\x00"),
    )
    header = mide._el(mide.EBML_HEADER, mide._el(mide.DOCTYPE, b"mide"))
    with pytest.raises(ValueError, match="declares no channels"):
        mide.read_mide_channels(header + block)


def test_mide_truly_empty_recording_returns_empty():
    # Header + RecordingProperties with no channels and no data blocks:
    # a genuinely empty recording, NOT a vocabulary mismatch.
    ids = mide.MIDE_IDS
    props = mide._el(
        ids["RecordingProperties"], mide._el_uint(ids["TimeBaseUTC"], 0)
    )
    header = mide._el(mide.EBML_HEADER, mide._el(mide.DOCTYPE, b"mide"))
    assert mide.read_mide_channels(header + props) == []


def test_mide_parse_report_names_mismatched_ids():
    # r12 verdict #8 (diagnostic mode): on a scrambled-ID file the
    # report must surface the unknown ids as name=None rows WITH their
    # structure (role/size), and resolve known ids by name — enough to
    # produce a corrected MIDE_IDS from one genuine file.
    channels, cals = _fixture()
    blob = mide.encode_mide(channels, cals, time_base_utc=1_704_067_200)

    report = mide.mide_parse_report(blob)
    names = {r["name"] for r in report}
    assert {"EBMLHeader", "RecordingProperties", "ChannelDataBlock",
            "ChannelName", "ChannelDataPayload"} <= names
    roots = [r for r in report if r["depth"] == 0]
    assert all(r["name"] is not None for r in roots)
    # format strings decode as text, time codes as uints
    fmt_rows = [r for r in report if r["name"] == "ChannelFormat"]
    assert fmt_rows and all(r["role"] == "text" for r in fmt_rows)
    tc = [r for r in report if r["name"] == "StartTimeCodeAbs"]
    assert tc and all(r["role"] == "uint?" for r in tc)

    # scramble ONE root id: the report pins it as an unnamed container
    out = []
    flipped = False
    for eid, s, e in mide.iter_elements(blob, 0, len(blob)):
        if not flipped and eid == mide.MIDE_IDS["ChannelDataBlock"]:
            out.append(mide._el(0x5AFE, blob[s:e]))
            flipped = True
        else:
            out.append(mide._el(eid, blob[s:e]))
    rep2 = mide.mide_parse_report(b"".join(out))
    unknown = [r for r in rep2 if r["name"] is None and r["depth"] == 0]
    assert any(r["id"] == 0x5AFE and r["role"] == "container"
               for r in unknown)
    # its CHILDREN still resolve by name: the mismatch is localized
    kids = [r for r in rep2 if r["depth"] == 1 and r["name"] == "ChannelIDRef"]
    assert kids


def test_mide_unknown_datablock_id_with_parsed_table_is_loud():
    # r13 codec-sweep finding: channel table parses but the data-block
    # root id is wrong -> previously returned declared channels with
    # ZERO samples (silent empty corpus).
    channels, cals = _fixture()
    blob = mide.encode_mide(channels, cals, time_base_utc=0)
    out = []
    for eid, s, e in mide.iter_elements(blob, 0, len(blob)):
        if eid == mide.MIDE_IDS["ChannelDataBlock"]:
            out.append(mide._el(0x5AFE, blob[s:e]))
        else:
            out.append(mide._el(eid, blob[s:e]))
    with pytest.raises(ValueError, match="no ChannelDataBlock matched"):
        mide.read_mide_channels(b"".join(out))


def test_mide_matched_blocks_missing_table_names_the_right_cause():
    # Every root id matched but RecordingProperties absent: the error
    # must NOT claim a vocabulary mismatch (r13 codec-sweep finding).
    ids = mide.MIDE_IDS
    block = mide._el(
        ids["ChannelDataBlock"],
        mide._el_uint(ids["ChannelIDRef"], 1)
        + mide._el_uint(ids["StartTimeCodeAbs"], 0)
        + mide._el_uint(ids["EndTimeCodeAbs"], 2048)
        + mide._el(ids["ChannelDataPayload"], b"\x01\x00"),
    )
    header = mide._el(mide.EBML_HEADER, mide._el(mide.DOCTYPE, b"mide"))
    with pytest.raises(ValueError, match="missing or truncated") as ei:
        mide.read_mide_channels(header + block)
    assert "vocabulary" not in str(ei.value)


def test_mide_channel_missing_fields_is_curated():
    # A Channel whose ChannelID child id mismatches raises the MIDE_IDS
    # diagnostic, not a bare KeyError (r13 codec-sweep finding).
    ids = mide.MIDE_IDS
    props = mide._el(
        ids["RecordingProperties"],
        mide._el(
            ids["ChannelList"],
            mide._el(
                ids["Channel"],
                mide._el_uint(0x5B2F, 1)  # foreign id where ChannelID goes
                + mide._el(ids["ChannelName"], b"C")
                + mide._el(ids["ChannelFormat"], b"<h"),
            ),
        ),
    )
    header = mide._el(mide.EBML_HEADER, mide._el(mide.DOCTYPE, b"mide"))
    with pytest.raises(ValueError, match="mide_parse_report"):
        mide.read_mide_channels(header + props)


def test_mide_invalid_format_string_is_curated():
    # encode_mide itself refuses a bad fmt, so build the file by hand:
    # a declared "<z" format with one matching data block.
    ids = mide.MIDE_IDS
    props = mide._el(
        ids["RecordingProperties"],
        mide._el(
            ids["ChannelList"],
            mide._el(
                ids["Channel"],
                mide._el_uint(ids["ChannelID"], 1)
                + mide._el(ids["ChannelName"], b"C")
                + mide._el(ids["ChannelFormat"], b"<z")
                + mide._el(
                    ids["SubChannel"],
                    mide._el_uint(ids["SubChannelID"], 0)
                    + mide._el(ids["SubChannelName"], b"x"),
                ),
            ),
        ),
    )
    block = mide._el(
        ids["ChannelDataBlock"],
        mide._el_uint(ids["ChannelIDRef"], 1)
        + mide._el_uint(ids["StartTimeCodeAbs"], 0)
        + mide._el_uint(ids["EndTimeCodeAbs"], 2048)
        + mide._el(ids["ChannelDataPayload"], b"\x01\x00"),
    )
    header = mide._el(mide.EBML_HEADER, mide._el(mide.DOCTYPE, b"mide"))
    with pytest.raises(ValueError, match="invalid struct format"):
        mide.read_mide_channels(header + props + block)


def test_unpack_frames_fast_path_matches_iter_unpack():
    import struct as _struct

    import numpy as np

    rng = np.random.default_rng(5)
    vals = rng.integers(-2048, 2048, (64, 3)).astype("<i2")
    payload = vals.tobytes()
    fast = mide._unpack_frames("<hhh", payload, 64, 3)
    slow = np.array(
        list(_struct.iter_unpack("<hhh", payload)), dtype=np.float64
    ).reshape(64, 3)
    assert (fast == slow).all()
    # big-endian + single-code + mixed-type fallback
    payload_be = vals.astype(">i2").tobytes()
    assert (mide._unpack_frames(">hhh", payload_be, 64, 3) == slow).all()
    mixed = _struct.pack("<hd", 7, 1.5) + _struct.pack("<hd", -3, 2.5)
    out = mide._unpack_frames("<hd", mixed, 2, 2)
    assert out.tolist() == [[7.0, 1.5], [-3.0, 2.5]]


def test_parse_report_does_not_recurse_into_sample_payloads():
    # ChannelDataPayload bytes crafted to LOOK like EBML must stay a
    # leaf row (r13 codec-sweep finding: pseudo-parsing sample payloads
    # flooded the row cap with noise rows).
    ids = mide.MIDE_IDS
    # 0x81 (id) 0x82 (size=2) + 2 bytes: valid-looking EBML inside data
    fake_ebml = bytes([0x81, 0x82, 0x01, 0x02])
    block = mide._el(
        ids["ChannelDataBlock"],
        mide._el_uint(ids["ChannelIDRef"], 1)
        + mide._el_uint(ids["StartTimeCodeAbs"], 0)
        + mide._el_uint(ids["EndTimeCodeAbs"], 2048)
        + mide._el(ids["ChannelDataPayload"], fake_ebml),
    )
    header = mide._el(mide.EBML_HEADER, mide._el(mide.DOCTYPE, b"mide"))
    rows = mide.mide_parse_report(header + block)
    payload_rows = [r for r in rows if r["name"] == "ChannelDataPayload"]
    assert payload_rows and all(
        r["role"] != "container" for r in payload_rows
    )
    # nothing was reported UNDER the payload
    assert not any(
        r["depth"] > payload_rows[0]["depth"] + 1 for r in rows
    )


def test_unpack_frames_native_long_width_mismatch_falls_back():
    # r13 review finding (reproduced): native-mode 'l'/'L' are
    # platform-sized (8 bytes on LP64) while the fast-path table maps
    # the standard 4-byte width — such formats must take the
    # iter_unpack fallback, not mis-slice a valid payload.
    import struct as _struct

    payload = _struct.pack("ll", 7, -3) + _struct.pack("ll", 1, 2)
    out = mide._unpack_frames("ll", payload, 2, 2)
    assert out.tolist() == [[7.0, -3.0], [1.0, 2.0]]
