"""dHash perceptual hashing: reference bits, brightness invariance,
downsampling exactness, null contract."""

import numpy as np

from open_ocr_spark.dataops.multimodal import encode_bmp24, encode_png
from open_ocr_spark.dataops.phash import (
    dhash_images,
    dhash_value,
    image_near_dup_groups,
)


def _gray(vals):
    a = np.asarray(vals, dtype=np.uint8)
    return np.stack([a, a, a], axis=2)


def _ref_bits(g):
    h = 0
    for r in range(8):
        for c in range(7):
            if g[r][c + 1] > g[r][c]:
                h |= 1 << (r * 7 + c)
    return h


def test_dhash_matches_reference_bits():
    rng = np.random.RandomState(7)
    g = rng.randint(0, 256, size=(8, 8))
    assert dhash_value(_gray(g)) == _ref_bits(g)


def test_dhash_brightness_invariant():
    rng = np.random.RandomState(11)
    g = rng.randint(0, 200, size=(8, 8))
    assert dhash_value(_gray(g)) == dhash_value(_gray(g + 40))


def test_dhash_downsample_is_exact_block_mean():
    g = np.arange(64).reshape(8, 8) * 3 % 251
    big = np.repeat(np.repeat(g, 2, axis=0), 2, axis=1)  # 16x16
    assert dhash_value(_gray(big)) == dhash_value(_gray(g))


def test_dhash_image_under_8px_samples_nearest(spark):
    g = np.random.RandomState(5).randint(0, 256, size=(6, 4))
    # under 8 px a side every grid block is one pixel: nearest sampling
    ref = _ref_bits(g[np.ix_(np.arange(8) * 6 // 8, np.arange(8) * 4 // 8)])
    assert dhash_value(_gray(g)) == ref
    df = spark.createDataFrame(
        [(1, encode_png(_gray(g)))], "doc_id long, payload binary"
    )
    assert dhash_images(df).collect()[0].dhash == ref


def test_dhash_images_decodes_and_groups(spark):
    def img(group, flip_noise):
        g = (np.add.outer(np.arange(8) * 13, np.arange(8) * 7) + group * 31) % 120
        v = g * 2 + (flip_noise % 2)
        return encode_bmp24(_gray(v))

    rows = [(i, img(i % 3, i)) for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = image_near_dup_groups(df).collect()
    assert len(out) == 3
    assert sorted(r.n_docs for r in out) == [4, 4, 4]
    # png encoding of the same pixels lands in the same group
    png_df = spark.createDataFrame(
        [(100, encode_png(_gray((np.add.outer(np.arange(8) * 13,
                                              np.arange(8) * 7)) % 120 * 2)))],
        "doc_id long, payload binary",
    )
    bmp_hash = {r.min_doc % 3: r.dhash for r in out}
    png_hash = dhash_images(png_df).collect()[0].dhash
    assert png_hash == bmp_hash[0]


def test_dhash_null(spark):
    df = spark.createDataFrame(
        [(1, None), (2, b"not an image")], "doc_id long, payload binary"
    )
    got = {r.doc_id: r.dhash for r in dhash_images(df).collect()}
    assert got == {1: None, 2: None}
