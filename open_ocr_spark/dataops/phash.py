"""Perceptual image hashing (dHash) for multimodal near-dup grouping.

Text near-dup has MinHash/SimHash tiers (dataops/dedup.py); this is the
image-side counterpart: decode pixels (the repo's real stdlib+numpy
decoders — PNG/JPEG/GIF/BMP/PPM), grayscale, block-average to an 8x8
grid with EXACT integer arithmetic (floor of block sums — no float
resampling, so the hash is bit-identical on every host), then the
classic difference hash: bit (r,c) set iff gray[r][c+1] > gray[r][c].
8 rows x 7 comparisons = 56 bits — sign-safe in int64 on both engines.

Grouping by dhash is then exact dedup machinery: one hash-partial
groupBy, map-side combine, no pairwise comparisons anywhere — the same
bucket-don't-compare shape as the text LSH tiers, and robust to the
perturbations dHash is designed for (brightness shifts, low-bit noise)
because only ORDER between neighboring cells matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GRID = 8  # 8x8 grid -> 56-bit hash


def dhash_value(arr) -> int:
    """56-bit dHash of an (h, w, 3) uint8 array — pure integer math.
    Every grid block spans at least one pixel, so an image under 8 px on
    a side is sampled nearest-pixel (its blocks are single rows/columns);
    at 8 px and up the blocks are the exact floor partition."""
    import numpy as np

    g = arr.astype(np.int64).sum(axis=2) // 3
    h, w = g.shape
    if (h, w) != (GRID, GRID):
        out = np.empty((GRID, GRID), dtype=np.int64)
        for r in range(GRID):
            r0 = r * h // GRID
            r1 = max((r + 1) * h // GRID, r0 + 1)
            for c in range(GRID):
                c0 = c * w // GRID
                c1 = max((c + 1) * w // GRID, c0 + 1)
                blk = g[r0:r1, c0:c1]
                out[r, c] = int(blk.sum()) // blk.size
        g = out
    bits = (g[:, 1:] > g[:, :-1]).reshape(-1).astype(np.int64)
    weights = np.int64(1) << np.arange(GRID * (GRID - 1), dtype=np.int64)
    return int((bits * weights).sum())


def dhash_images(
    media: DataFrame,
    img_col: str = "payload",
    out_col: str = "dhash",
) -> DataFrame:
    """Adds `out_col`: the 56-bit dHash, null for a NULL, undecodable or
    corrupt payload (decode_pixels returns None or raises ValueError)."""
    from pyspark.sql.functions import pandas_udf

    def _dhash(payloads):
        import pandas as pd

        from open_ocr_spark.dataops.multimodal import decode_pixels

        out = []
        for p in payloads:
            try:
                arr = None if p is None else decode_pixels(bytes(p))
            except ValueError:
                arr = None
            out.append(None if arr is None else dhash_value(arr))
        return pd.Series(out, dtype="object")

    return media.withColumn(
        out_col, pandas_udf(_dhash, "long")(F.col(img_col))
    )


def image_near_dup_groups(
    media: DataFrame,
    img_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """(dhash, n_docs, min_doc, max_doc): perceptual duplicate groups —
    one hash aggregate over the corpus, no pairwise stage."""
    return (
        dhash_images(media, img_col, "dhash")
        .groupBy("dhash")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min(id_col).alias("min_doc"),
            F.max(id_col).alias("max_doc"),
        )
    )
