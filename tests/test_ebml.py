"""EBML/Matroska (webm) demux: writer-twin roundtrips, vint edges,
unknown-size Segment, BlockGroup path, lacing rejection, multi-track
skip, and the Spark frame-sampling integration."""

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from open_ocr_spark.dataops.ebml import (
    _enc_size,
    _read_size,
    build_webm,
    parse_webm,
)


def test_roundtrip_basic():
    frames = [b"\x01\x02\x03", b"frame-two", b"\xff" * 40]
    data = build_webm(frames, 64, 48, fps=2.0, codec="V_VP9")
    info = parse_webm(data)
    assert (info["width"], info["height"]) == (64, 48)
    assert info["codec"] == "V_VP9"
    assert info["n_samples"] == 3
    assert info["duration_s"] == pytest.approx(1.5)
    got = [data[off : off + sz] for off, sz, _ in info["samples"]]
    assert got == frames
    assert [ts for _, _, ts in info["samples"]] == [0.0, 0.5, 1.0]


def test_not_ebml_returns_none():
    assert parse_webm(b"RIFF\x00\x00\x00\x00AVI ") is None
    assert parse_webm(b"") is None


def test_truncated_raises():
    data = build_webm([b"abc"], 8, 8)
    with pytest.raises(ValueError):
        parse_webm(data[:-2])


def test_vint_sizes():
    # 1-byte, 2-byte, 8-byte size encodings roundtrip
    for n in (0, 1, 126, 127, 128, 16383, 16384, 2**21 - 3, 2**40):
        enc = _enc_size(n)
        val, pos = _read_size(enc, 0)
        assert (val, pos) == (n, len(enc))
    # all-ones = unknown
    assert _read_size(b"\xff", 0) == (None, 1)
    assert _read_size(b"\x01" + b"\xff" * 7, 0) == (None, 8)


def test_unknown_size_segment():
    data = bytearray(build_webm([b"xyz"], 16, 16))
    # find the Segment id and replace its size vint with unknown (the
    # streaming-webm shape).  Segment body starts right after the size.
    seg = data.find(b"\x18\x53\x80\x67")
    size_pos = seg + 4
    val, after = _read_size(bytes(data), size_pos)
    body = bytes(data[after:])
    streaming = bytes(data[:size_pos]) + b"\xff" + body
    info = parse_webm(streaming)
    assert info["n_samples"] == 1
    off, sz, ts = info["samples"][0]
    assert streaming[off : off + sz] == b"xyz"


def test_block_group_path():
    # Block (0xA1) inside BlockGroup (0xA0) — the non-Simple shape some
    # muxers emit — parses identically to SimpleBlock
    from open_ocr_spark.dataops import ebml as E

    blk_body = b"\x81" + struct.pack(">h", 3) + b"\x00" + b"grouped"
    group = E._elem(E._BLOCK_GROUP, E._elem(E._BLOCK, blk_body))
    cluster = E._elem(
        E._CLUSTER, E._elem(E._CLUSTER_TS, b"\x05") + group
    )
    info_el = E._elem(
        E._INFO,
        E._elem(E._TS_SCALE, E._enc_uint(1_000_000))
        + E._elem(E._DURATION, struct.pack(">d", 1000.0)),
    )
    tracks_el = E._elem(
        E._TRACKS,
        E._elem(
            E._TRACK_ENTRY,
            E._elem(E._TRACK_NUMBER, b"\x01")
            + E._elem(E._TRACK_TYPE, b"\x01")
            + E._elem(E._CODEC_ID, b"V_VP8")
            + E._elem(
                E._VIDEO,
                E._elem(E._PIXEL_W, b"\x10") + E._elem(E._PIXEL_H, b"\x10"),
            ),
        ),
    )
    header = build_webm([b"x"], 16, 16)
    minimal = header[: header.find(b"\x18\x53\x80\x67")] + E._elem(
        E._SEGMENT, info_el + tracks_el + cluster
    )
    got = parse_webm(minimal)
    assert got["n_samples"] == 1
    off, sz, ts = got["samples"][0]
    assert minimal[off : off + sz] == b"grouped"
    # cluster ts 5 + rel ts 3 at 1 ms ticks
    assert ts == pytest.approx(0.008)


def test_laced_video_block_raises():
    data = build_webm([b"abcd"], 16, 16)
    blk_body = b"\x81" + struct.pack(">h", 0) + b"\x80" + b"abcd"
    # set lacing bits (0x06) in the flags byte
    laced = blk_body[:3] + bytes([blk_body[3] | 0x06]) + blk_body[4:]
    patched = data.replace(blk_body, laced)
    with pytest.raises(ValueError, match="laced"):
        parse_webm(patched)


def test_other_track_blocks_skipped():
    # audio track 1 first, video track 2: blocks of track 1 (laced or
    # not) are skipped wholesale; only track-2 blocks become samples
    from open_ocr_spark.dataops import ebml as E

    info_el = E._elem(
        E._INFO, E._elem(E._TS_SCALE, E._enc_uint(1_000_000))
    )

    def entry(num, ttype, extra=b""):
        return E._elem(
            E._TRACK_ENTRY,
            E._elem(E._TRACK_NUMBER, bytes([num]))
            + E._elem(E._TRACK_TYPE, bytes([ttype]))
            + extra,
        )

    video_meta = E._elem(
        E._VIDEO, E._elem(E._PIXEL_W, b"\x20") + E._elem(E._PIXEL_H, b"\x18")
    )
    tracks_el = E._elem(
        E._TRACKS, entry(1, 2) + entry(2, 1, video_meta)
    )

    def sblock(track, payload, flags=0x80):
        body = bytes([0x80 | track]) + struct.pack(">h", 0) + bytes(
            [flags]
        ) + payload
        return E._elem(E._SIMPLE_BLOCK, body)

    cluster = E._elem(
        E._CLUSTER,
        E._elem(E._CLUSTER_TS, b"\x00")
        + sblock(1, b"audio", flags=0x86)  # laced audio: skipped, no raise
        + sblock(2, b"video-frame"),
    )
    data = b"\x1a\x45\xdf\xa3" + E._enc_size(0) + E._elem(
        E._SEGMENT, info_el + tracks_el + cluster
    )
    got = parse_webm(data)
    assert got["n_samples"] == 1
    assert (got["width"], got["height"]) == (32, 24)
    off, sz, ts = got["samples"][0]
    assert data[off : off + sz] == b"video-frame"
    # no Duration element: estimated from the single sample
    assert got["duration_s"] == pytest.approx(1.0)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.binary(min_size=1, max_size=200), min_size=1, max_size=12),
    st.integers(min_value=1, max_value=4000),
    st.integers(min_value=1, max_value=3000),
    st.sampled_from([1.0, 2.0, 10.0, 29.97]),
)
def test_roundtrip_property(frames, w, h, fps):
    data = build_webm(frames, w, h, fps=fps)
    info = parse_webm(data)
    assert info["n_samples"] == len(frames)
    assert (info["width"], info["height"]) == (w, h)
    got = [data[off : off + sz] for off, sz, _ in info["samples"]]
    assert got == frames
    assert info["duration_s"] == pytest.approx(len(frames) / fps, rel=1e-6)
    for k, (_, _, ts) in enumerate(info["samples"]):
        assert ts == pytest.approx(round(k / fps * 1000) / 1000, abs=1e-9)


def test_sample_frames_webm_spark(spark):
    from open_ocr_spark.dataops.multimodal import sample_frames

    rows = [
        (1, bytearray(build_webm([b"f0", b"f1f1", b"f2"], 16, 16, fps=1.0))),
        (2, bytearray(build_webm([b"only"], 16, 16, fps=4.0))),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = sorted(
        (
            (r["media_id"], r["frame_idx"], r["ts_s"], bytes(r["frame"]))
            for r in sample_frames(df, fps=1.0).collect()
        )
    )
    assert got == [
        (1, 0, 0.0, b"f0"),
        (1, 1, 1.0, b"f1f1"),
        (1, 2, 2.0, b"f2"),
        (2, 0, 0.0, b"only"),
    ]


def test_media_features_webm_spark(spark):
    from open_ocr_spark.dataops.multimodal import extract_media_features

    data = build_webm([b"a", b"b"], 320, 240, fps=2.0)
    df = spark.createDataFrame(
        [(7, bytearray(data), None)],
        "media_id long, payload binary, media_type string",
    )
    row = extract_media_features(df).collect()[0]
    assert row["media_type"] == "video/webm"
    assert (row["width"], row["height"]) == (320, 240)
    assert row["n_frames"] == 2
    assert row["duration_s"] == pytest.approx(1.0)
