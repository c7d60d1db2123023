"""GIF codec (dataops/gif.py) and AVI/MJPEG demux (dataops/avi.py) tests.

GIF is lossless and palettized, so encode->decode must be EXACT for any
image with <= 256 distinct colors; LZW must round-trip arbitrary index
streams across code-width growth and table overflow.  AVI demux must
return every frame's bytes exactly as written, because the MJPEG pixel
path decodes those bytes with the repo's own JPEG codec.
"""

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from open_ocr_spark.dataops.gif import (
    decode_gif,
    encode_gif,
    lzw_decode,
    lzw_encode,
)


@st.composite
def paletted_arrays(draw, max_side=24, max_colors=256):
    h = draw(st.integers(1, max_side))
    w = draw(st.integers(1, max_side))
    ncol = draw(st.integers(1, min(max_colors, h * w)))
    seed = draw(st.integers(0, 2**31 - 1))
    rng = np.random.default_rng(seed)
    palette = rng.integers(0, 256, (ncol, 3), dtype=np.uint8)
    idx = rng.integers(0, ncol, (h, w))
    return palette[idx]


@settings(max_examples=30, deadline=None)
@given(paletted_arrays())
def test_gif_roundtrip_exact(arr):
    assert np.array_equal(decode_gif(encode_gif(arr)), arr)


@settings(max_examples=20, deadline=None)
@given(
    st.lists(st.integers(0, 255), min_size=1, max_size=3000),
    st.integers(2, 8),
)
def test_lzw_roundtrip(indices, mcs):
    indices = [i % (1 << mcs) for i in indices]
    out = lzw_decode(lzw_encode(indices, mcs), mcs, len(indices))
    assert list(out) == indices


def test_lzw_table_overflow_roundtrip():
    # long low-entropy stream: forces width growth to 12 bits and a
    # mid-stream clear; both sides must stay in lockstep
    seq = (list(range(250)) * 40 + [7] * 9000) * 2
    out = lzw_decode(lzw_encode(np.array(seq), 8), 8, len(seq))
    assert list(out) == seq


def _build_gif(
    idx_rows, palette, interlace=False, transparent=-1, bg_idx=0,
    screen=None, offset=(0, 0),
):
    """Hand-assembled GIF89a for decoder-feature tests (the encoder never
    writes interlace/transparency/offsets, so these bytes are built raw)."""
    from open_ocr_spark.dataops.gif import _interlace_order

    h, w = len(idx_rows), len(idx_rows[0])
    sh, sw = screen or (h, w)
    depth = max(1, (max(len(palette), 2) - 1).bit_length())
    pal = bytearray()
    for r, g, b in palette:
        pal += bytes((r, g, b))
    pal += b"\x00" * (3 * ((1 << depth) - len(palette)))
    rows = list(idx_rows)
    flags = 0
    if interlace:
        rows = [idx_rows[r] for r in _interlace_order(h)]
        flags |= 0x40
    mcs = max(2, depth)
    lzw = lzw_encode([p for row in rows for p in row], mcs)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        blocks.append(len(lzw[i : i + 255]))
        blocks += lzw[i : i + 255]
    blocks.append(0)
    gce = b""
    if transparent >= 0:
        gce = bytes((0x21, 0xF9, 4, 1, 0, 0, transparent, 0))
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", sw, sh, 0x80 | (depth - 1), bg_idx, 0)
        + bytes(pal)
        + gce
        + b"\x2c"
        + struct.pack("<HHHHB", offset[1], offset[0], w, h, flags)
        + bytes([mcs])
        + bytes(blocks)
        + b"\x3b"
    )


def test_gif_interlaced_matches_sequential():
    rng = np.random.default_rng(11)
    palette = [tuple(int(v) for v in rng.integers(0, 256, 3))
               for _ in range(8)]
    idx = rng.integers(0, 8, (13, 5))  # odd height crosses all 4 passes
    seq = decode_gif(_build_gif(idx.tolist(), palette))
    lace = decode_gif(_build_gif(idx.tolist(), palette, interlace=True))
    assert np.array_equal(seq, lace)
    assert np.array_equal(seq[2, 3], np.array(palette[idx[2, 3]]))


def test_gif_transparency_resolves_to_background():
    palette = [(10, 10, 10), (200, 50, 9), (0, 255, 0), (77, 77, 77)]
    idx = [[0, 1], [2, 1]]
    out = decode_gif(
        _build_gif(idx, palette, transparent=2, bg_idx=3)
    )
    assert tuple(out[1, 0]) == (77, 77, 77)  # transparent -> bg color
    assert tuple(out[0, 1]) == (200, 50, 9)


def test_gif_frame_offset_composes_on_screen():
    palette = [(5, 5, 5), (250, 250, 250)]
    out = decode_gif(
        _build_gif([[1]], palette, screen=(3, 3), offset=(1, 2), bg_idx=0)
    )
    assert out.shape == (3, 3, 3)
    assert tuple(out[1, 2]) == (250, 250, 250)
    assert tuple(out[0, 0]) == (5, 5, 5)  # uncovered screen = background


def test_gif_refuses_over_256_colors():
    img = np.zeros((20, 20, 3), np.uint8)
    img[..., 0] = (np.arange(400) % 256).reshape(20, 20)
    img[..., 1] = (np.arange(400) // 256).reshape(20, 20)
    with pytest.raises(ValueError, match="distinct colors"):
        encode_gif(img)


def test_gif_corrupt_raises_non_gif_none():
    good = encode_gif(np.zeros((4, 4, 3), np.uint8))
    assert decode_gif(b"\x89PNG\r\n\x1a\nnope") is None
    with pytest.raises(ValueError):
        decode_gif(good[:20])  # truncated mid-structure
    with pytest.raises(ValueError):
        decode_gif(good[:13] + b"\x3b")  # trailer before any frame


# ---------------------------------------------------------------- AVI --


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.binary(min_size=1, max_size=400), min_size=1, max_size=12),
    st.sampled_from([2.0, 10.0, 24.0, 29.97]),
)
def test_avi_roundtrip_frames_exact(frames, fps):
    from open_ocr_spark.dataops.avi import build_avi, parse_avi

    data = build_avi(frames, 16, 8, fps=fps)
    info = parse_avi(data)
    assert info["n_frames"] == len(frames)
    assert info["width"] == 16 and info["height"] == 8
    assert abs(info["fps"] - fps) < 0.001  # scale=1000 rate rounding
    got = [data[o : o + s] for o, s in info["frames"]]
    assert got == frames  # byte-exact, odd sizes padded correctly


def test_avi_mjpeg_pixel_path_end_to_end():
    """Demux + this repo's JPEG decoder: full real video pixel path."""
    from open_ocr_spark.dataops.avi import build_avi, parse_avi
    from open_ocr_spark.dataops.jpeg import decode_jpeg, encode_jpeg

    grays = [30, 99, 201, 144]
    frames = [
        encode_jpeg(np.full((8, 8, 3), g, np.uint8), grayscale=True)
        for g in grays
    ]
    data = build_avi(frames, 8, 8, fps=4.0)
    info = parse_avi(data)
    for (off, sz), g in zip(info["frames"], grays):
        arr = decode_jpeg(data[off : off + sz])
        assert arr.shape == (8, 8, 3)
        assert int(arr[0, 0, 0]) == g  # flat gray is codec-exact


def test_avi_corrupt_and_foreign():
    from open_ocr_spark.dataops.avi import build_avi, parse_avi

    assert parse_avi(b"plainly not riff") is None
    assert parse_avi(b"RIFF\x04\x00\x00\x00WAVE") is None
    data = build_avi([b"xx"], 4, 4)
    # chunk size pointing past the container must raise, not wrap
    broken = bytearray(data)
    broken[16:20] = struct.pack("<I", 2**31)
    with pytest.raises(ValueError):
        parse_avi(bytes(broken))
    with pytest.raises(ValueError, match="no video frame"):
        parse_avi(_strip_frames())


def _strip_frames() -> bytes:
    """An AVI whose movi list is empty (headers intact)."""
    from open_ocr_spark.dataops.avi import build_avi

    full = build_avi([b"zz"], 4, 4)
    j = full.index(b"movi") - 8  # start of the movi LIST chunk
    empty_movi = b"LIST" + struct.pack("<I", 4) + b"movi"
    body = full[12:j] + empty_movi
    return b"RIFF" + struct.pack("<I", len(body) + 4) + b"AVI " + body


def test_sample_frames_avi_tick_mapping(spark):
    """2 fps source sampled at 1 fps: ticks 0s,1s -> frames 0,2."""
    from open_ocr_spark.dataops.avi import build_avi
    from open_ocr_spark.dataops.jpeg import decode_jpeg, encode_jpeg
    from open_ocr_spark.dataops.multimodal import sample_frames

    grays = [10, 60, 110, 160]  # 4 frames at 2 fps = 2 s
    frames = [
        encode_jpeg(np.full((8, 8, 3), g, np.uint8), grayscale=True)
        for g in grays
    ]
    payload = build_avi(frames, 8, 8, fps=2.0)
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "media_id long, payload binary"
    )
    rows = sample_frames(df, fps=1.0).orderBy("frame_idx")
    got = [
        (r.frame_idx, r.ts_s, int(decode_jpeg(bytes(r.frame))[0, 0, 0]))
        for r in rows.collect()
    ]
    assert got == [(0, 0.0, 10), (1, 1.0, 110)]
