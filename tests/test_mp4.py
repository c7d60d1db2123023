"""ISO-BMFF container layer (dataops/mp4.py) + the real MP4 frame-sampling
path in multimodal.sample_frames / extract_media_features.

The muxer and parser are pinned against each other (independently
constructed bitstream vs top-down box walk); byte-exact sample extraction
means a wrong stco/stsz/stsc interpretation cannot pass.
"""

import numpy as np
import pytest

from open_ocr_spark.dataops.mp4 import mux_mp4, parse_mp4


def test_mux_parse_roundtrip():
    samples = [b"frameA", b"frameBB", b"frameCCC", b"D"]
    mp4 = mux_mp4(samples, 320, 240, timescale=600, sample_delta=600)
    info = parse_mp4(mp4)
    assert (info["width"], info["height"]) == (320, 240)
    assert info["n_samples"] == 4
    assert info["duration_s"] == 4.0
    for (off, sz, ts), want, k in zip(info["samples"], samples, range(4)):
        assert mp4[off : off + sz] == want
        assert ts == float(k)


def test_parse_fractional_timescale():
    mp4 = mux_mp4([b"x", b"y", b"z"], 64, 64, timescale=30000,
                  sample_delta=1001)  # 29.97 fps style
    info = parse_mp4(mp4)
    assert info["n_samples"] == 3
    assert abs(info["samples"][1][2] - 1001 / 30000) < 1e-12
    assert abs(info["duration_s"] - 3 * 1001 / 30000) < 1e-12


def test_parse_rejects_non_mp4_and_corrupt():
    assert parse_mp4(b"\x89PNG\r\n\x1a\n1234") is None
    assert parse_mp4(b"0123456789ab") is None
    mp4 = mux_mp4([b"frame"], 16, 16)
    with pytest.raises(ValueError):
        parse_mp4(mp4[:-6])  # truncated moov
    # bytes deleted mid-file: some box's recorded size now overruns EOF
    broken = bytearray(mp4)
    del broken[mp4.find(b"mdat") + 4 : mp4.find(b"mdat") + 9]
    with pytest.raises(ValueError):
        parse_mp4(bytes(broken))


def test_sniff_and_features_mp4(spark):
    from open_ocr_spark.dataops.multimodal import (
        extract_media_features,
        sniff_media_type,
    )

    mp4 = mux_mp4([b"f0", b"f1", b"f2"], 128, 96, timescale=10,
                  sample_delta=5)
    assert sniff_media_type(mp4) == "video/mp4"
    df = spark.createDataFrame(
        [(1, bytearray(mp4), None)],
        "media_id long, payload binary, media_type string",
    )
    row = extract_media_features(df).collect()[0]
    assert row["media_type"] == "video/mp4"
    assert (row["width"], row["height"]) == (128, 96)
    assert row["n_frames"] == 3
    assert row["duration_s"] == 1.5


def test_sample_frames_real_mp4(spark):
    """3 samples of 1 s each, fps=2 -> 6 ticks; tick k/2 must carry the
    BYTE-EXACT codec sample whose dts covers it (floor), with ts = tick."""
    from open_ocr_spark.dataops.multimodal import sample_frames

    payload = mux_mp4([b"AAAA", b"BB", b"CCCCCC"], 32, 32,
                      timescale=600, sample_delta=600)
    df = spark.createDataFrame(
        [(7, bytearray(payload))], "media_id long, payload binary"
    )
    rows = sorted(
        sample_frames(df, fps=2.0).collect(),
        key=lambda r: r["frame_idx"],
    )
    assert [bytes(r["frame"]) for r in rows] == [
        b"AAAA", b"AAAA", b"BB", b"BB", b"CCCCCC", b"CCCCCC"
    ]
    assert [r["ts_s"] for r in rows] == [0.0, 0.5, 1.0, 1.5, 2.0, 2.5]
    # fps=1 -> one tick per sample
    rows = sample_frames(df, fps=1.0).collect()
    assert len(rows) == 3


def test_corrupt_tables_normalize_to_valueerror():
    """struct.error from short sample-table buffers must surface as
    ValueError — the one exception the kernels route to
    error-as-value (a crawl payload must never kill the job with an
    unexpected type)."""
    mp4 = mux_mp4([b"abc", b"de"], 8, 8)
    broken = bytearray(mp4)
    i = mp4.find(b"stsz")
    broken[i + 12 : i + 16] = (999_999).to_bytes(4, "big")
    with pytest.raises(ValueError, match="stsz entries overrun box"):
        parse_mp4(bytes(broken))


def test_hostile_declared_counts_raise_fast():
    """A tiny corrupt/hostile file declaring a 32-bit table count must
    raise ValueError BEFORE any expansion — never build a billions-element
    list (executor hang/OOM) or read table entries from sibling boxes."""
    mp4 = mux_mp4([b"abc", b"de"], 8, 8)

    def patched(tag: bytes, off: int, value: int) -> bytes:
        broken = bytearray(mp4)
        i = mp4.find(tag)
        broken[i + off : i + off + 4] = value.to_bytes(4, "big")
        return bytes(broken)

    # stts run count 0xFFFFFFFF (entry count stays 1 -> fits its box)
    with pytest.raises(ValueError, match="sample count mismatch"):
        parse_mp4(patched(b"stts", 12, 0xFFFFFFFF))
    # stts entry count beyond the box extent
    with pytest.raises(ValueError, match="stts entries overrun box"):
        parse_mp4(patched(b"stts", 8, 0x00FFFFFF))
    # uniform stsz declaring more sample bytes than the whole file
    broken = bytearray(mp4)
    i = mp4.find(b"stsz")
    broken[i + 8 : i + 12] = (1).to_bytes(4, "big")       # uniform size 1
    broken[i + 12 : i + 16] = (2**31).to_bytes(4, "big")  # n_samples huge
    with pytest.raises(ValueError, match="declared samples overrun file"):
        parse_mp4(bytes(broken))
    # stco / stsc entry counts beyond their boxes
    with pytest.raises(ValueError, match="stco entries overrun box"):
        parse_mp4(patched(b"stco", 8, 0x00FFFFFF))
    with pytest.raises(ValueError, match="stsc entries overrun box"):
        parse_mp4(patched(b"stsc", 8, 0x00FFFFFF))
    # stsc run pointing outside the chunk range: refused either as a
    # first-run anchor violation (checked first) or as range overrun
    with pytest.raises(
        ValueError,
        match="first run must start at chunk 1|stsc run outside chunk range",
    ):
        parse_mp4(patched(b"stsc", 12, 99))


def _zero_sample_mp4() -> bytes:
    """Structurally valid video track declaring ZERO samples: empty
    stts/stsz/stsc/stco tables but a nonzero mdhd duration."""
    mp4 = bytearray(mux_mp4([b"abc"], 8, 8))
    for tag, off in ((b"stts", 8), (b"stsz", 12), (b"stsc", 8), (b"stco", 8)):
        i = mp4.find(tag)
        mp4[i + off : i + off + 4] = b"\x00\x00\x00\x00"
    return bytes(mp4)


def test_zero_sample_track_parses_and_samples_no_frames(spark):
    """n_samples=0 with nonzero duration is valid-but-empty: parse_mp4
    returns an empty sample list and sample_frames emits no rows instead
    of crashing the kernel with an IndexError."""
    from open_ocr_spark.dataops.multimodal import sample_frames

    payload = _zero_sample_mp4()
    info = parse_mp4(payload)
    assert info is not None
    assert info["n_samples"] == 0 and info["samples"] == []
    assert info["duration_s"] > 0
    df = spark.createDataFrame(
        [(3, bytearray(payload))], "media_id long, payload binary"
    )
    assert sample_frames(df, fps=2.0).collect() == []


def test_stsc_first_run_not_at_chunk_one_raises():
    """A first stsc run starting past chunk 1 would shift every sample
    onto the wrong chunk offset if expanded positionally — it must raise
    (ISO 14496-12 requires the first run to start at chunk 1)."""
    mp4 = mux_mp4([b"abc", b"de"], 8, 8)
    i = mp4.find(b"stsc")
    broken = bytearray(mp4)
    # first run's first_chunk field sits 8 bytes after the box tag
    # (4 version/flags + 4 entry_count)
    broken[i + 12 : i + 16] = (2).to_bytes(4, "big")
    with pytest.raises(ValueError, match="first run must start at chunk 1"):
        parse_mp4(bytes(broken))
