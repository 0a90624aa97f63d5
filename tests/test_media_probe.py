"""MP3 frame-header walker, H.264 Annex-B/SPS parser, and the
probe_media_metadata (ffprobe-lite) operator.

Codec scope under test is the documented header-level contract:
spec-exact frame geometry / SPS field decode / NAL census — never
audio synthesis or pixel reconstruction (those stay stubbed, honestly).
Golden inputs come from the test writers in ``media_encoders.py``,
whose header fields are spec-derived; malformed-input tests pin the ValueError quarantine
contract shared by every codec in ``operators/multimodal.py``.
"""

from __future__ import annotations

import pytest

from b3_analytics_engine_spark.operators.multimodal import (
    _h264_strip_epb,
    _parse_h264_info,
    _parse_mp3_info,
    probe_media_metadata,
)
from media_encoders import (
    _BitWriter,
    encode_h264_annexb,
    encode_mp3_stream,
)

# ------------------------------------------------------------- MP3


def test_mp3_cbr_exact_duration_and_tags():
    s = encode_mp3_stream([128] * 10, 44100, id3v2_bytes=100, id3v1=True)
    info = _parse_mp3_info(s)
    assert info["n_frames"] == 10
    assert info["sample_rate"] == 44100
    assert info["channels"] == 2
    assert info["layer"] == 3 and info["version"] == "1"
    # MPEG-1 Layer III: 1152 samples per frame, exactly
    assert info["duration_ms"] == pytest.approx(10 * 1152 / 44100 * 1000)
    assert not info["vbr"]
    # byte-weighted average sits at the nominal rate (frame floor ~0.3%)
    assert info["bitrate_kbps"] == pytest.approx(128, rel=0.01)


def test_mp3_vbr_duration_is_per_frame_sum():
    rates = [64, 128, 192, 320]
    info = _parse_mp3_info(encode_mp3_stream(rates, 48000))
    assert info["vbr"] and info["n_frames"] == 4
    assert info["duration_ms"] == pytest.approx(4 * 1152 / 48000 * 1000)
    # average must be byte-weighted, not the arithmetic mean of rates
    assert info["bitrate_kbps"] == pytest.approx(sum(rates) / 4, rel=0.01)


def test_mp3_mpeg2_layer3_is_576_samples_mono_padded():
    s = encode_mp3_stream([64] * 5, 22050, version="2", channels=1, padding=1)
    info = _parse_mp3_info(s)
    assert info["channels"] == 1 and info["version"] == "2"
    assert info["duration_ms"] == pytest.approx(5 * 576 / 22050 * 1000)


def test_mp3_layer1_geometry():
    info = _parse_mp3_info(encode_mp3_stream([384] * 3, 32000, layer=1))
    assert info["layer"] == 1
    assert info["duration_ms"] == pytest.approx(3 * 384 / 32000 * 1000)


def test_mp3_mpeg25_rates():
    info = _parse_mp3_info(encode_mp3_stream([32] * 2, 8000, version="2.5"))
    assert info["sample_rate"] == 8000
    assert info["duration_ms"] == pytest.approx(2 * 576 / 8000 * 1000)


@pytest.mark.parametrize(
    "mutate, msg",
    [
        (lambda s: b"\x12" + s[1:], "lost frame sync"),
        (lambda s: s[:-1], "truncated frame"),
        # bitrate_index 0 = free format (header byte 2 high nibble)
        (lambda s: s[:2] + bytes([s[2] & 0x0F]) + s[3:], "free-format"),
        # sample-rate index 3 = reserved
        (lambda s: s[:2] + bytes([s[2] | 0x0C]) + s[3:], "reserved sample"),
        # layer bits 00 = reserved
        (lambda s: s[:1] + bytes([s[1] & ~0x06]) + s[2:], "reserved layer"),
        # version bits 01 = reserved
        (
            lambda s: s[:1] + bytes([(s[1] & ~0x18) | 0x08]) + s[2:],
            "reserved MPEG version",
        ),
        (lambda s: s + b"\x00\x00", "junk|lost frame sync"),
    ],
)
def test_mp3_malformed_raises(mutate, msg):
    import re

    good = encode_mp3_stream([128] * 2, 44100)
    with pytest.raises(ValueError, match=f"(?i)({msg})"):
        _parse_mp3_info(mutate(good))


def test_mp3_mid_stream_parameter_change_raises():
    a = encode_mp3_stream([128], 44100)
    b = encode_mp3_stream([64], 44100, channels=1)
    with pytest.raises(ValueError, match="changed mid-file"):
        _parse_mp3_info(a + b)


def test_mp3_id3v2_oversized_raises():
    s = encode_mp3_stream([128], 44100, id3v2_bytes=50)
    # claim a tag bigger than the payload
    bad = s[:6] + b"\x7f\x7f\x7f\x7f" + s[10:]
    with pytest.raises(ValueError, match="larger than payload"):
        _parse_mp3_info(bad)


# ------------------------------------------------------------ H.264


def test_h264_sps_roundtrip_no_crop():
    info = _parse_h264_info(encode_h264_annexb(640, 480, fps=30.0,
                                               n_idr=1, n_non_idr=2))
    assert (info["width"], info["height"]) == (640, 480)
    assert info["profile"] == "baseline" and info["level"] == 3.0
    assert info["fps"] == 30.0
    assert info["n_idr"] == 1 and info["n_slices"] == 3
    assert info["duration_ms"] == pytest.approx(100.0)
    assert not info["interlaced"]


def test_h264_sps_cropping_1080p_high_profile():
    # 1080 rows need a 1088-row coded frame + bottom crop of 8 (unit 2)
    info = _parse_h264_info(
        encode_h264_annexb(1920, 1080, profile_idc=100, level_idc=40)
    )
    assert (info["width"], info["height"]) == (1920, 1080)
    assert info["profile"] == "high" and info["level"] == 4.0
    assert info["fps"] is None and info["duration_ms"] is None
    assert info["chroma_format_idc"] == 1


def test_h264_three_byte_start_codes_and_fractional_fps():
    info = _parse_h264_info(
        encode_h264_annexb(320, 240, fps=23.976, four_byte_start=False,
                           n_idr=2, n_non_idr=3)
    )
    assert (info["width"], info["height"]) == (320, 240)
    assert info["fps"] == pytest.approx(23.976, abs=5e-4)
    assert info["n_idr"] == 2 and info["n_slices"] == 5
    assert info["nal_type_counts"][7] == 1  # exactly one SPS
    assert info["nal_type_counts"][8] == 1  # exactly one PPS


def test_h264_epb_insert_and_strip_are_inverse():
    w = _BitWriter()
    w.u(0, 16)   # two zero bytes
    w.u(1, 8)    # then 0x01: raw RBSP 00 00 01 must be protected
    out = w.rbsp_bytes()
    assert b"\x00\x00\x03" in out          # EPB inserted
    assert b"\x00\x00\x01" not in out      # start-code emulation gone
    # stripping restores the raw bytes (+ rbsp trailing byte 0x80)
    assert _h264_strip_epb(out) == b"\x00\x00\x01\x80"


def test_h264_strip_epb_only_in_double_zero_runs():
    # 00 00 03 -> 00 00 ; a lone 00 03 is untouched
    assert _h264_strip_epb(b"\x00\x00\x03\x00\x00\x03\x01") == (
        b"\x00\x00\x00\x00\x01"
    )
    assert _h264_strip_epb(b"\x00\x03\x00\x00\x03\x02") == (
        b"\x00\x03\x00\x00\x02"
    )


@pytest.mark.parametrize(
    "mutate, msg",
    [
        (lambda s: b"\xff" + s, "no Annex-B start code"),
        (lambda s: s[:4] + bytes([s[4] | 0x80]) + s[5:], "forbidden_zero"),
        # drop the SPS NAL entirely (stream starts at the PPS)
        (lambda s: s[s.find(b"\x00\x00\x00\x01", 4):], "no SPS"),
        # truncate inside the SPS payload
        (lambda s: s[:8], "exhausted|no SPS|no NAL"),
    ],
)
def test_h264_malformed_raises(mutate, msg):
    good = encode_h264_annexb(640, 480, fps=30.0)
    with pytest.raises(ValueError, match=f"(?i)({msg})"):
        _parse_h264_info(mutate(good))


def test_h264_writer_rejects_odd_dimensions():
    with pytest.raises(ValueError, match="even"):
        encode_h264_annexb(641, 480)


# ------------------------------------------- probe operator (Spark)


def test_probe_media_metadata_mixed_batch(spark):
    from b3_analytics_engine_spark.operators.multimodal import encode_png

    wav = (
        b"RIFF" + (36 + 8).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little") + (16000).to_bytes(4, "little")
        + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
        + b"data" + (8).to_bytes(4, "little") + bytes(8)
    )
    rows = [
        (1, encode_mp3_stream([128] * 4, 44100)),
        (2, encode_h264_annexb(640, 480, fps=30.0, n_idr=1, n_non_idr=1)),
        (3, wav),
        (4, encode_png(2, 2, bytes(12))),
        (5, b"PVF 2 2 2 10\n" + bytes(24)),
        (6, b"\xde\xad\xbe\xef garbage"),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in probe_media_metadata(df).collect()}
    assert len(got) == 7

    assert got[1]["ok"] and got[1]["container"] == "mp3"
    assert got[1]["sample_rate"] == 44100 and got[1]["n_frames"] == 4
    assert got[1]["profile"] == "mpeg1-layer3"

    assert got[2]["ok"] and got[2]["container"] == "h264"
    assert (got[2]["width"], got[2]["height"]) == (640, 480)
    assert got[2]["n_keyframes"] == 1 and got[2]["n_frames"] == 2
    assert got[2]["profile"] == "baseline@3.0"

    assert got[3]["ok"] and got[3]["container"] == "wav"
    assert got[3]["sample_rate"] == 8000 and got[3]["n_frames"] == 4
    assert got[3]["duration_ms"] == pytest.approx(0.5)

    assert got[4]["ok"] and got[4]["container"] == "png"
    assert (got[4]["width"], got[4]["height"]) == (2, 2)

    assert got[5]["ok"] and got[5]["container"] == "pvf"
    assert got[5]["n_frames"] == 2 and got[5]["duration_ms"] == 200.0

    # quarantine rows: ok=false, err carries the parser message
    assert not got[6]["ok"] and "unrecognized container" in got[6]["err"]
    assert not got[7]["ok"] and got[7]["err"]


def test_media_curation_three_way_split(spark):
    from b3_analytics_engine_spark.pipelines import media_curation

    rows = [
        # mp3, 10 frames @128kbps 44.1kHz ≈ 261 ms — passes
        (1, encode_mp3_stream([128] * 10, 44100)),
        # mp3, 1 frame ≈ 26 ms — too_short
        (2, encode_mp3_stream([128], 44100)),
        # h264 640x480 @30fps, 3 frames = 100 ms — passes
        (3, encode_h264_annexb(640, 480, fps=30.0, n_idr=1, n_non_idr=2)),
        # h264 160x120, duration OK — width reject (before height)
        (4, encode_h264_annexb(160, 120, fps=30.0, n_idr=1, n_non_idr=2)),
        # garbage — quarantined
        (5, b"\x00\x01garbage"),
        # a still image big enough for the size gates: its NULL
        # duration/bitrate must NOT reject it (predicates only act on
        # media kinds that carry the field)
        (6, b"P6\n320 240\n255\n" + bytes(320 * 240 * 3)),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    cuts = media_curation(
        df,
        min_duration_ms=50.0,
        min_width=320,
        min_height=240,
    )
    kept = {r["media_id"] for r in cuts["kept"].collect()}
    rej = {
        r["media_id"]: r["reject_reason"]
        for r in cuts["rejected"].collect()
    }
    quar = {r["media_id"] for r in cuts["quarantined"].collect()}
    assert kept == {1, 3, 6}
    assert rej == {2: "too_short", 4: "width"}
    assert quar == {5}
    # exactly one frame per input id
    assert len(kept) + len(rej) + len(quar) == 6


# ------------------------------------------------ property tests
# (pure-Python codec level — no Spark, so examples are cheap; the
# same style as tests/test_properties.py, which pinned the decimal
# cast boundary)

from hypothesis import given, settings
from hypothesis import strategies as st

from b3_analytics_engine_spark.operators.multimodal import (
    _MP3_BITRATES,
    _MP3_RATES,
)

_mp3_cfg = st.sampled_from(
    [
        (version, layer, sr, br)
        for version in ("1", "2", "2.5")
        for layer in (1, 2, 3)
        for sr in _MP3_RATES[version]
        for br in _MP3_BITRATES[("1" if version == "1" else "2", layer)][::4]
    ]
)


@settings(max_examples=40, deadline=None)
@given(
    cfg=_mp3_cfg,
    n_frames=st.integers(1, 7),
    channels=st.sampled_from([1, 2]),
    padding=st.sampled_from([0, 1]),
    id3v2=st.integers(0, 64),
    id3v1=st.booleans(),
)
def test_mp3_roundtrip_property(cfg, n_frames, channels, padding, id3v2, id3v1):
    """Every (version × layer × sample-rate × bitrate) cell of the
    spec tables round-trips: the walker recovers frame count, exact
    duration, channels, and stream parameters from the writer's
    output, with tags and padding in any combination."""
    version, layer, sr, br = cfg
    s = encode_mp3_stream(
        [br] * n_frames, sr, version=version, layer=layer,
        channels=channels, padding=padding,
        id3v2_bytes=id3v2, id3v1=id3v1,
    )
    info = _parse_mp3_info(s)
    assert info["n_frames"] == n_frames
    assert info["sample_rate"] == sr
    assert info["channels"] == channels
    assert (info["version"], info["layer"]) == (version, layer)
    spf = {1: 384, 2: 1152, 3: 1152 if version == "1" else 576}[layer]
    assert info["duration_ms"] == pytest.approx(n_frames * spf / sr * 1000)
    assert not info["vbr"]


@settings(max_examples=40, deadline=None)
@given(
    mbs_w=st.integers(1, 30),
    mbs_h=st.integers(1, 20),
    crop_r=st.integers(0, 7),
    crop_b=st.integers(0, 7),
    profile=st.sampled_from([66, 77, 100, 110]),
    level=st.sampled_from([10, 21, 30, 41, 52]),
    fps=st.one_of(st.none(), st.sampled_from([10.0, 24.0, 25.0, 30.0, 60.0])),
    n_idr=st.integers(1, 3),
    n_non=st.integers(0, 4),
    four=st.booleans(),
)
def test_h264_roundtrip_property(
    mbs_w, mbs_h, crop_r, crop_b, profile, level, fps, n_idr, n_non, four
):
    """Arbitrary macroblock grids with arbitrary (even) crops round-
    trip through SPS encode/parse — dimensions, profile, level, fps,
    NAL census all recovered, across baseline/main/high profiles and
    both start-code widths. Exercises EPB insertion whenever the
    exp-Golomb stream happens to emit 00 00 0x."""
    w = mbs_w * 16 - 2 * crop_r
    h = mbs_h * 16 - 2 * crop_b
    s = encode_h264_annexb(
        w, h, profile_idc=profile, level_idc=level, fps=fps,
        n_idr=n_idr, n_non_idr=n_non, four_byte_start=four,
    )
    info = _parse_h264_info(s)
    assert (info["width"], info["height"]) == (w, h)
    assert info["profile_idc"] == profile
    assert info["level"] == pytest.approx(level / 10.0)
    if fps is None:
        assert info["fps"] is None
    else:
        assert info["fps"] == pytest.approx(fps, abs=1e-3)
    assert info["n_idr"] == n_idr
    assert info["n_slices"] == n_idr + n_non
    assert info["n_nal"] == 2 + n_idr + n_non


@settings(max_examples=25, deadline=None)
@given(data=st.binary(min_size=8, max_size=96))
def test_h264_strip_insert_epb_inverse_property(data):
    """For ANY byte string: writing it through the bit writer and
    stripping EPBs recovers the original bytes (+ the rbsp stop byte),
    and the protected form never contains a start-code emulation."""
    w = _BitWriter()
    for b in data:
        w.u(b, 8)
    out = w.rbsp_bytes()
    assert b"\x00\x00\x00" not in out
    assert b"\x00\x00\x01" not in out
    assert b"\x00\x00\x02" not in out
    assert _h264_strip_epb(out) == data + b"\x80"


# ------------------------------------- header-only probe contract


def _crafted_png_bad_deflate():
    """A PNG whose chunk structure and CRCs are VALID but whose IDAT
    deflate stream inflates to the wrong size — full decode rejects
    it; the header probe must accept it without inflating."""
    import struct
    import zlib

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    bad_idat = zlib.compress(bytes(7))  # far less than (4*3+1)*4 bytes
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", bad_idat)
        + chunk(b"IEND", b"")
    )


def test_probe_png_is_header_only_but_structurally_strict():
    from b3_analytics_engine_spark.operators.multimodal import (
        _parse_png,
        _probe_png_header,
        encode_png,
    )

    blob = _crafted_png_bad_deflate()
    # structure valid -> probe accepts with dims; full decode rejects
    assert _probe_png_header(blob) == (4, 4, 3, 2, 0)
    with pytest.raises(ValueError, match="inflated size"):
        _parse_png(blob)
    # structural corruption still fails the probe: flip one IDAT byte
    good = encode_png(2, 2, bytes(12))
    i = good.find(b"IDAT") + 4
    bad_crc = good[:i] + bytes([good[i] ^ 0xFF]) + good[i + 1:]
    with pytest.raises(ValueError, match="bad CRC"):
        _probe_png_header(bad_crc)
    with pytest.raises(ValueError, match="missing IHDR, IDAT or IEND"):
        _probe_png_header(good[: good.find(b"IEND") - 4])


def test_probe_jpeg_is_header_only_but_structurally_strict():
    from b3_analytics_engine_spark.operators.multimodal import (
        _parse_jpeg,
        _probe_jpeg_header,
    )
    from media_encoders import encode_jpeg_baseline

    good = encode_jpeg_baseline(8, 8, bytes(8 * 8 * 3))
    assert _probe_jpeg_header(good) == (8, 8, 3)
    # corrupt the entropy-coded scan: zero a byte mid-ECS while
    # keeping segment structure + EOI — probe accepts, decoder rejects
    sos = good.find(b"\xff\xda")
    ecs = sos + 2 + int.from_bytes(good[sos + 2 : sos + 4], "big") + 2
    bad_ecs = bytearray(good)
    for j in range(ecs, min(ecs + 4, len(bad_ecs) - 2)):
        bad_ecs[j] = 0x55
    bad_ecs = bytes(bad_ecs)
    assert _probe_jpeg_header(bad_ecs) == (8, 8, 3)
    with pytest.raises(ValueError):
        _parse_jpeg(bad_ecs)
    # structural corruption still fails the probe: no EOI
    with pytest.raises(ValueError, match="missing EOI|truncated"):
        _probe_jpeg_header(good[:-2])


def test_probe_profile_reports_source_channel_layout():
    """The probe's `profile` field describes the BLOB's channel
    layout (what ffprobe reports), not the decoder's RGB output
    contract: gray PNG -> rgb8, truecolor -> rgb24, RGBA -> rgb32;
    gray JPEG -> ycbcr1, color -> ycbcr3. The probes already parse
    IHDR color type / SOF component count — this pins that they
    surface it instead of discarding it (r11 advice)."""
    import struct
    import zlib

    from b3_analytics_engine_spark.operators.multimodal import (
        _probe_one,
    )
    from media_encoders import encode_jpeg_baseline

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    def png(color, nch):
        w = h = 2
        raw = b"".join(b"\x00" + bytes(w * nch) for _ in range(h))
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    assert _probe_one(png(0, 1))[-1] == "rgb8"   # grayscale
    assert _probe_one(png(2, 3))[-1] == "rgb24"  # truecolor
    assert _probe_one(png(6, 4))[-1] == "rgb32"  # RGBA
    gray = encode_jpeg_baseline(8, 8, bytes(8 * 8 * 3), gray=True)
    color = encode_jpeg_baseline(8, 8, bytes(8 * 8 * 3))
    assert _probe_one(gray)[-1] == "ycbcr1"
    assert _probe_one(color)[-1] == "ycbcr3"


def test_probe_spark_batch_header_only_paths(spark):
    """End-to-end through probe_media_metadata: the crafted bad-pixel
    PNG probes ok=true (headers valid), while decode_image_stats — the
    full-decode tier — quarantines the same blob."""
    from b3_analytics_engine_spark.operators.multimodal import (
        decode_image_stats,
    )

    df = spark.createDataFrame(
        [(1, _crafted_png_bad_deflate())], "media_id long, payload binary"
    )
    probe = probe_media_metadata(df).collect()[0]
    assert probe["ok"] and (probe["width"], probe["height"]) == (4, 4)
    stats = decode_image_stats(df).collect()[0]
    assert not stats["ok"]
