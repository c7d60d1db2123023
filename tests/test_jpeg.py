"""Baseline JPEG codec (dataops/jpeg.py): pure stdlib+numpy, no PIL.

Every fixture is generated by the repo's own encoder, so the tests pin the
encoder's bitstream validity and the decoder's T.81 conformance against
each other; the flat-gray cases are EXACT (all-ones quant tables make DC
the only nonzero coefficient, and integer), so a systematic bias in either
side cannot cancel out.
"""

import numpy as np
import pytest

from open_ocr_spark.dataops.jpeg import decode_jpeg, encode_jpeg


def test_flat_gray_roundtrip_exact():
    src = np.full((16, 24, 3), 77, dtype=np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg(src)), src)


def test_block_flat_colors_near_exact():
    """Each 8x8 block one color: only DC coefficients, so the only loss is
    YCbCr<->RGB rounding (<=2 per channel)."""
    rng = np.random.default_rng(11)
    cols = rng.integers(0, 256, (2, 3, 3))
    src = np.repeat(np.repeat(cols, 8, axis=0), 8, axis=1).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(src))
    assert out.shape == src.shape
    assert int(np.abs(out.astype(int) - src.astype(int)).max()) <= 2


def test_random_odd_dims_roundtrip():
    """Non-multiple-of-8 dims exercise edge padding + crop; worst-case
    error with all-ones quant is coefficient rounding (a few LSB)."""
    rng = np.random.default_rng(7)
    src = rng.integers(0, 256, (13, 21, 3), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(src))
    assert out.shape == (13, 21, 3)
    assert int(np.abs(out.astype(int) - src.astype(int)).max()) <= 4


def test_420_subsampling_roundtrip():
    """4:2:0 exercises the MCU-interleave (4 Y blocks per MCU) and the
    chroma upsample path; a gray image has constant chroma so subsampling
    loses nothing — exact."""
    g = np.full((10, 10, 3), 130, dtype=np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg(g, subsample=True)), g)
    rng = np.random.default_rng(3)
    src = rng.integers(0, 256, (20, 17, 3), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(src, subsample=True))
    assert out.shape == (20, 17, 3)
    # luma is still full-res: the Y plane must match closely even though
    # chroma is 2x2-averaged (pointwise max can spike where the averaged
    # chroma clips reconstructed RGB, so the bound is statistical)
    yo = 0.299 * out[..., 0] + 0.587 * out[..., 1] + 0.114 * out[..., 2]
    ys = 0.299 * src[..., 0] + 0.587 * src[..., 1] + 0.114 * src[..., 2]
    err = np.abs(yo - ys)
    assert float(err.mean()) <= 1.5
    assert float(np.percentile(err, 99)) <= 6.0


def test_grayscale_single_component():
    g = np.full((9, 12, 3), 200, dtype=np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg(g, grayscale=True)), g)


def test_restart_markers_roundtrip():
    """DRI + RSTn every MCU: the decoder must byte-align, consume the
    marker and reset DC predictors — a missed reset shifts every later
    block's DC."""
    rng = np.random.default_rng(5)
    src = rng.integers(0, 256, (24, 32, 3), dtype=np.uint8)
    enc = encode_jpeg(src, restart_interval=1)
    assert b"\xff\xdd" in enc and b"\xff\xd0" in enc
    out = decode_jpeg(enc)
    assert int(np.abs(out.astype(int) - src.astype(int)).max()) <= 4
    # and with a longer interval + subsampling
    enc = encode_jpeg(src, subsample=True, restart_interval=2)
    assert decode_jpeg(enc).shape == (24, 32, 3)


def test_out_of_scope_frames_return_none():
    g = np.full((8, 8, 3), 90, dtype=np.uint8)
    enc = bytearray(encode_jpeg(g))
    i = bytes(enc).find(b"\xff\xc0")
    for sof in (0xC3, 0xCA, 0xCB):  # lossless / progressive-arithmetic
        enc[i + 1] = sof
        assert decode_jpeg(bytes(enc)) is None
    # SOF9 (sequential arithmetic) is SUPPORTED since r4: a huffman
    # stream relabeled SOF9 is garbage QM data — totality demands it
    # decode to something or raise ValueError, never crash otherwise
    enc[i + 1] = 0xC9
    try:
        decode_jpeg(bytes(enc))
    except ValueError:
        pass
    # SOF2 is now SUPPORTED, so a baseline stream with its SOF marker
    # flipped to progressive is structurally corrupt (a progressive scan
    # header can't declare the 0..63 band), not out-of-scope
    enc[i + 1] = 0xC2
    with pytest.raises(ValueError):
        decode_jpeg(bytes(enc))
    # 12-bit precision: SOF body precision byte (offset i+4)
    enc[i + 1] = 0xC0
    enc[i + 4] = 12
    assert decode_jpeg(bytes(enc)) is None
    # not a JPEG at all
    assert decode_jpeg(b"\x89PNG\r\n\x1a\n") is None


def test_corrupt_streams_raise():
    g = np.full((8, 8, 3), 90, dtype=np.uint8)
    enc = encode_jpeg(g)
    with pytest.raises(ValueError):
        decode_jpeg(enc[:40])  # truncated mid-segment
    with pytest.raises(ValueError):
        decode_jpeg(enc[:-12])  # truncated entropy data (EOB unreachable)
    # SOS before any SOF
    i = enc.find(b"\xff\xc0")
    ln = int.from_bytes(enc[i + 2 : i + 4], "big")
    with pytest.raises(ValueError):
        decode_jpeg(enc[:i] + enc[i + 2 + ln :])


def test_decode_pixels_dispatches_jpeg():
    from open_ocr_spark.dataops.multimodal import decode_pixels

    src = np.full((8, 16, 3), 44, dtype=np.uint8)
    assert np.array_equal(decode_pixels(encode_jpeg(src)), src)


def test_resize_kernel_jpeg_real_path(spark):
    """decode -> nearest-neighbor -> re-encode as JPEG inside the
    map_rows kernel; the output payload must itself decode to the
    expected resized pixels."""
    from open_ocr_spark.dataops.multimodal import resize_images

    src = np.repeat(
        np.repeat(np.array([[[10, 200, 60], [250, 40, 120]]]), 8, axis=0),
        8, axis=1,
    ).astype(np.uint8)  # 8x16, two flat 8x8 blocks
    df = spark.createDataFrame(
        [(1, bytearray(encode_jpeg(src)))], "media_id long, payload binary"
    )
    row = resize_images(df, 8, 8).collect()[0]
    out = decode_jpeg(bytes(row["payload"]))
    assert row["width"] == 8 and row["height"] == 8
    assert out.shape == (8, 8, 3)
    expect = src[:, ::2]  # nearest-neighbor 2x horizontal shrink
    assert int(np.abs(out.astype(int) - expect.astype(int)).max()) <= 4


def test_truncated_tables_normalize_to_valueerror():
    """A DQT that promises a 16-bit table but truncates mid-body must be
    ValueError (not struct.error) so kernels can route error-as-value."""
    import struct

    g = np.full((8, 8, 3), 90, dtype=np.uint8)
    enc = encode_jpeg(g)
    i = enc.find(b"\xff\xdb")
    # replace the DQT with a 16-bit-precision header whose body is short
    fake_dqt = b"\xff\xdb" + struct.pack(">HB", 2 + 1 + 10, 0x10) + b"\x00" * 10
    ln = int.from_bytes(enc[i + 2 : i + 4], "big")
    broken = enc[:i] + fake_dqt + enc[i + 2 + ln :]
    with pytest.raises(ValueError):
        decode_jpeg(broken)


def test_grayscale_declared_sampling_factors_ignored():
    """T.81 SA.2.3: a one-component scan is NON-interleaved — the MCU is a
    single data unit, so the frame's declared sampling factors must not
    change how the entropy stream is walked. libjpeg decodes a grayscale
    frame declaring H=V=2 identically to one declaring H=V=1; patching the
    SOF sampling byte must not change this decoder's output either."""
    rng = np.random.default_rng(5)
    g = np.repeat(
        rng.integers(0, 256, (24, 24, 1), dtype=np.uint8), 3, axis=2
    )
    enc = bytearray(encode_jpeg(g, grayscale=True))
    base = decode_jpeg(bytes(enc))
    i = enc.index(b"\xff\xc0")
    assert enc[i + 11] == 0x11  # SOF comp sampling byte (H<<4 | V)
    enc[i + 11] = 0x22
    assert np.array_equal(decode_jpeg(bytes(enc)), base)


def test_hostile_dimensions_fail_fast():
    """A few-hundred-byte payload declaring 65535x65535 dims must raise
    ValueError before allocating coefficient arrays (~16 GB/component) —
    fail fast on hostile crawl bytes, never OOM the executor."""
    g = np.full((8, 8, 3), 100, dtype=np.uint8)
    enc = bytearray(encode_jpeg(g))
    i = enc.index(b"\xff\xc0")
    enc[i + 5 : i + 7] = b"\xff\xff"  # height
    enc[i + 7 : i + 9] = b"\xff\xff"  # width
    with pytest.raises(ValueError, match="exceed entropy data"):
        decode_jpeg(bytes(enc))


# --- progressive (SOF2) -------------------------------------------------------


def test_progressive_flat_exact():
    from open_ocr_spark.dataops.jpeg import encode_jpeg_progressive

    src = np.full((16, 24, 3), 77, dtype=np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg_progressive(src)), src)
    g = np.full((8, 16, 3), 200, dtype=np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg_progressive(g, grayscale=True)), g
    )


def test_progressive_equals_baseline_seeded():
    """The load-bearing invariant: progressive scan assembly reconstructs
    the SAME coefficients the sequential decoder reads, for arbitrary
    content (EOB runs, ZRL-in-refinement, buffered correction bits)."""
    from open_ocr_spark.dataops.jpeg import encode_jpeg_progressive

    rng = np.random.default_rng(42)
    for _ in range(12):
        h, w = int(rng.integers(1, 48)), int(rng.integers(1, 48))
        src = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        for gray in (False, True):
            base = decode_jpeg(encode_jpeg(src, grayscale=gray))
            prog = decode_jpeg(
                encode_jpeg_progressive(src, grayscale=gray)
            )
            assert np.array_equal(base, prog)


def test_progressive_equals_baseline_hypothesis():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from open_ocr_spark.dataops.jpeg import encode_jpeg_progressive

    @settings(max_examples=25, deadline=None)
    @given(
        st.integers(1, 20), st.integers(1, 20), st.integers(0, 2**31 - 1),
        st.booleans(),
    )
    def inner(h, w, seed, gray):
        src = (
            np.random.default_rng(seed)
            .integers(0, 256, (h, w, 3))
            .astype(np.uint8)
        )
        base = decode_jpeg(encode_jpeg(src, grayscale=gray))
        prog = decode_jpeg(encode_jpeg_progressive(src, grayscale=gray))
        assert np.array_equal(base, prog)

    inner()


def test_progressive_420_subsampled_equals_baseline():
    """4:2:0 progressive: the path where the interleaved DC scans (MCU
    walk over the PADDED grid, 4 Y blocks per MCU) and the AC scans
    (component TRUE block grid) genuinely address differently — dims are
    chosen so padded != true for the Y plane (w=20: padded 4 wide, true
    3 wide)."""
    from open_ocr_spark.dataops.jpeg import encode_jpeg_progressive

    rng = np.random.default_rng(13)
    for h, w in ((20, 20), (17, 23), (8, 8), (33, 9)):
        src = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        base = decode_jpeg(encode_jpeg(src, subsample=True))
        prog = decode_jpeg(encode_jpeg_progressive(src, subsample=True))
        assert np.array_equal(base, prog), (h, w)


def test_progressive_truncation_raises():
    from open_ocr_spark.dataops.jpeg import encode_jpeg_progressive

    rng = np.random.default_rng(5)
    src = rng.integers(0, 256, (17, 9, 3)).astype(np.uint8)
    enc = encode_jpeg_progressive(src)
    with pytest.raises(ValueError):
        decode_jpeg(enc[:40])
    with pytest.raises(ValueError):
        decode_jpeg(enc[: len(enc) // 2])
    # EOI chopped off entirely mid-entropy
    with pytest.raises(ValueError):
        decode_jpeg(enc[:-8])


def test_progressive_corruption_totality():
    """Any single-byte corruption must decode, return None, or raise
    ValueError — never crash with another exception type (the kernels
    route exactly ValueError to error-as-value)."""
    from open_ocr_spark.dataops.jpeg import encode_jpeg_progressive

    rng = np.random.default_rng(9)
    src = rng.integers(0, 256, (11, 13, 3)).astype(np.uint8)
    enc = bytearray(encode_jpeg_progressive(src))
    for trial in range(200):
        i = int(rng.integers(0, len(enc)))
        old = enc[i]
        enc[i] = int(rng.integers(0, 256))
        try:
            decode_jpeg(bytes(enc))
        except ValueError:
            pass
        enc[i] = old


def test_progressive_decode_pixels_dispatch():
    from open_ocr_spark.dataops.jpeg import encode_jpeg_progressive
    from open_ocr_spark.dataops.multimodal import decode_pixels

    src = np.full((8, 16, 3), 44, dtype=np.uint8)
    assert np.array_equal(
        decode_pixels(encode_jpeg_progressive(src)), src
    )
