"""Registry: multimodal operators — image decode/resize across PNG/BMP/
PPM/GIF/JPEG (baseline, progressive, arithmetic), video demux + MJPEG
frames (MP4/EBML/AVI), WAV audio stats, perceptual dHash near-dup."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from open_ocr_spark.pipeline.stages import map_rows
from open_ocr_spark.queries._shared import _t, twin_payloads

ORACLES: dict[str, str] = {}


def _twin_media(spark: SparkSession, sf_dir: str, build) -> DataFrame:
    """``build(doc_id)`` payloads keyed as the media operators expect:
    ``media_id long, payload binary``."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return twin_payloads(docs, build).withColumnRenamed("doc_id", "media_id")


def q_binary_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, oracle-checkable slice: documents.text encoded
    to an opaque binary column, JVM-side byte length + md5."""
    docs = _t(spark, sf_dir, "documents").orderBy("doc_id")  # sort-early
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    from open_ocr_spark.dataops.multimodal import binary_stats

    return binary_stats(media)


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE_NONE: Arrow-batched feature-extraction plumbing over the
    documents' text bytes: real n_bytes and sha1, NULL dims (no header
    parser recognizes text). Rows-only check, no sort — a sort above
    the Python stage would run it twice (range-sampling pass)."""
    from open_ocr_spark.dataops.multimodal import extract_media_features

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit(None).cast("string").alias("media_type"),
        F.lit(None).cast("map<string,string>").alias("meta"),
    )
    return extract_media_features(media).select(
        "media_id", "n_bytes", "sha1", "width", "height"
    )


def q_image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual (dHash) image near-dup grouping (dataops/phash.py),
    REAL pixel path: each document becomes an 8x8 grayscale BMP whose
    pixel base values are a formula of its group (doc_id % 17) plus a
    per-document LOW-BIT noise term that dHash must ignore — base values
    are doubled so a +-1 noise can never flip a neighbor comparison.
    The kernel decodes the real BMP bytes, grayscales,
    and hashes; the oracle recomputes each group's 56 comparison bits
    straight from the generation formula in SQL.  Same-pixel PNG/BMP
    agreement and block-mean downsampling exactness are pinned in
    tests/test_phash.py."""
    from open_ocr_spark.dataops.phash import image_near_dup_groups

    def build(i: int) -> bytes:
        import numpy as np

        from open_ocr_spark.dataops.multimodal import encode_bmp24

        xs, ys = np.arange(8)[None, :], np.arange(8)[:, None]
        g = i % 17
        base = (g * 31 + 7 * xs + 13 * ys) % 120
        noise = (i * (xs + 1) * (ys + 3)) % 2
        v = (base * 2 + noise).astype(np.uint8)
        return encode_bmp24(np.stack([v, v, v], axis=2))

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    media = twin_payloads(docs, build)
    return image_near_dup_groups(media).orderBy("dhash")


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE_NONE: one-to-many frame-sampling plumbing: each document's
    text, cut into the 256-byte frames of a 1 fps webm, fans out to one
    row per frame. An empty or NULL text stays a raw payload, which no
    demuxer recognizes, so it yields no frames."""
    from open_ocr_spark.dataops.multimodal import sample_frames

    def build(i: int, text: str | None) -> bytes:
        from open_ocr_spark.dataops.ebml import build_webm

        raw = (text or "").encode()
        chunks = [raw[k : k + 256] for k in range(0, len(raw), 256)]
        return build_webm(chunks, 64, 48, fps=1.0) if chunks else raw

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    media = twin_payloads(docs, build).withColumnRenamed("doc_id", "media_id")
    return sample_frames(media).select(
        "media_id", "frame_idx", "ts_s", F.octet_length("frame").alias("n_bytes")
    )


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel path, oracle-checked end-to-end (VERDICT r2 item 10):
    each document becomes a 2x2 24-bit BMP whose four pixel values are
    formulas of doc_id (built by the writer-twin scaffold), resized
    2x by the numpy nearest-neighbor path (an undecoded payload would be
    a NULL row and break the hash), and the four CORNERS of the 4x4
    output are read back with pure-Catalyst byte arithmetic on the BMP
    layout (54-byte header + bottom-up rows, stride 12). Nearest-neighbor
    2x replicates each source pixel into a 2x2 block, so corner k must
    equal source pixel k — the oracle recomputes the formulas in SQL."""
    from open_ocr_spark.dataops.multimodal import resize_images

    def build(i: int) -> bytes:
        import numpy as np

        from open_ocr_spark.dataops.multimodal import encode_bmp24

        a = i % 251
        b = (i * 3 + 7) % 251
        c = (i * 5 + 11) % 251
        d = (i * 7 + 13) % 251
        arr = np.array(
            [[[a] * 3, [b] * 3], [[c] * 3, [d] * 3]], dtype=np.uint8
        )
        return encode_bmp24(arr)

    media = _twin_media(spark, sf_dir, build)
    resized = resize_images(media, 4, 4)

    def px(pos_1based: int):
        # one channel of a pixel as an int (all three are equal by design)
        return F.conv(
            F.hex(F.substring(F.col("payload"), pos_1based, 1)), 16, 10
        ).cast("int")

    # output rows are bottom-up: file row r = image row (3 - r), stride 12
    return resized.select(
        F.col("media_id").alias("doc_id"),
        F.col("n_bytes"),
        px(55 + 3 * 12).alias("p00"),       # image (0,0)  <- src a
        px(55 + 3 * 12 + 3 * 3).alias("p01"),  # image (0,3) <- src b
        px(55).alias("p10"),                # image (3,0)  <- src c
        px(55 + 3 * 3).alias("p11"),        # image (3,3)  <- src d
    ).orderBy("doc_id")


def q_media_resize_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG codec (dataops PNG decode + encode) through the driver gate:
    each document becomes a 2x2 truecolor PNG whose pixels are formulas of
    doc_id, resized 2x by the real pixel path, and the
    resized payload — itself a PNG — is decoded back in a second Arrow
    kernel to read the four corners. PNG is lossless, so the oracle's SQL
    formulas must match exactly; a bug in EITHER the encoder or the
    decoder (filter handling, chunk layout, palette, CRC offsets) breaks
    the hash."""
    from open_ocr_spark.dataops.multimodal import resize_images

    def build(i: int) -> bytes:
        import numpy as np

        from open_ocr_spark.dataops.multimodal import encode_png

        a, b = i % 241, (i * 11 + 3) % 241
        c, d = (i * 13 + 29) % 241, (i * 17 + 31) % 241
        arr = np.array(
            [[[a] * 3, [b] * 3], [[c] * 3, [d] * 3]], dtype=np.uint8
        )
        return encode_png(arr)

    media = _twin_media(spark, sf_dir, build)
    resized = resize_images(media, 4, 4)

    def _corners(mid, payload):
        from open_ocr_spark.dataops.multimodal import decode_pixels

        arr = decode_pixels(bytes(payload))
        return [(
            int(mid), int(arr[0, 0, 0]), int(arr[0, 3, 0]),
            int(arr[3, 0, 0]), int(arr[3, 3, 0]),
        )]

    return map_rows(
        resized.select("media_id", "payload"),
        "doc_id long, p00 int, p01 int, p10 int, p11 int",
        _corners,
    ).orderBy("doc_id")


def q_media_resize_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline JPEG codec (dataops/jpeg.py) through the driver gate: each
    document becomes an 8x16 grayscale JPEG of two flat 8x8 blocks whose
    gray levels are formulas of doc_id, resized to 8x8 by the real pixel
    path (decode -> nearest-neighbor -> re-encode as JPEG),
    and the resized JPEG is decoded back to read one pixel per source
    block. With all-ones quant tables, flat gray blocks survive BOTH
    encode/decode round trips exactly (DC is the only nonzero
    coefficient and it is integer), so the oracle is exact equality —
    any drift in the huffman tables, DCT basis, colorspace constants or
    marker layout breaks the hash."""
    from open_ocr_spark.dataops.multimodal import resize_images

    def build(i: int) -> bytes:
        import numpy as np

        from open_ocr_spark.dataops.jpeg import encode_jpeg

        a, b = (i * 2 + 5) % 250, (i * 9 + 40) % 250
        arr = np.empty((8, 16, 3), dtype=np.uint8)
        arr[:, :8] = a
        arr[:, 8:] = b
        return encode_jpeg(arr, grayscale=True)

    media = _twin_media(spark, sf_dir, build)
    resized = resize_images(media, 8, 8)

    def _pixels(mid, payload, w, h):
        from open_ocr_spark.dataops.jpeg import decode_jpeg

        arr = decode_jpeg(bytes(payload))
        return [(
            int(mid), int(w), int(h),
            int(arr[0, 0, 0]), int(arr[7, 7, 0]),
        )]

    return map_rows(
        resized.select("media_id", "payload", "width", "height"),
        "doc_id long, width int, height int, p_left int, p_right int",
        _pixels,
    ).orderBy("doc_id")


def q_media_resize_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive (SOF2) JPEG through the driver gate, two checks in one
    plan.  (1) Exact pixel path: each document becomes an 8x16 grayscale
    PROGRESSIVE JPEG (DC-first/DC-refine + two spectral AC bands with
    successive approximation) of two flat 8x8 blocks with doc_id-formula
    gray levels, resized to 8x8 by the real path (progressive decode ->
    nearest-neighbor -> baseline re-encode -> decode): flat blocks
    survive both roundtrips exactly, so p_left/p_right are closed-form.
    (2) AC-machinery equivalence: a doc_id-seeded NON-flat 16x16 image is
    encoded both baseline and progressive in the kernel and
    ``ac_agree=1`` records that both decodes are byte-identical — this is
    the invariant the progressive scan assembly must satisfy (the
    baseline path is itself pinned by media_resize_jpeg's oracle), and it
    exercises EOB runs, ZRL-in-refinement and correction bits on real
    coefficient data inside the driver-checked query."""
    from open_ocr_spark.dataops.multimodal import resize_images

    def build(i: int) -> bytes:
        import numpy as np

        from open_ocr_spark.dataops.jpeg import encode_jpeg_progressive

        a, b = (i * 3 + 11) % 250, (i * 7 + 60) % 250
        arr = np.empty((8, 16, 3), dtype=np.uint8)
        arr[:, :8] = a
        arr[:, 8:] = b
        return encode_jpeg_progressive(arr, grayscale=True)

    media = _twin_media(spark, sf_dir, build)
    resized = resize_images(media, 8, 8)

    def _pixels(mid, payload, w, h):
        import numpy as np

        from open_ocr_spark.dataops.jpeg import (
            decode_jpeg,
            encode_jpeg,
            encode_jpeg_progressive,
        )

        arr = decode_jpeg(bytes(payload))
        mid = int(mid)
        # doc-seeded non-flat content: every AC scan type fires
        rich = (
            (np.arange(16)[:, None] * 31 + np.arange(16) * 17
             + mid * 13) % 256
        ).astype(np.uint8)[:, :, None].repeat(3, axis=2)
        base = decode_jpeg(encode_jpeg(rich, grayscale=True))
        prog = decode_jpeg(encode_jpeg_progressive(rich, grayscale=True))
        return [(
            mid, int(w), int(h),
            int(arr[0, 0, 0]), int(arr[7, 7, 0]),
            int(np.array_equal(base, prog)),
        )]

    return map_rows(
        resized.select("media_id", "payload", "width", "height"),
        "doc_id long, width int, height int, p_left int, p_right int, "
        "ac_agree int",
        _pixels,
    ).orderBy("doc_id")


def q_media_resize_jpeg_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic-coded (SOF9, QM entropy — dataops/jpeg_arith.py) JPEG
    through the driver gate, mirroring the progressive query's two
    checks.  (1) Exact pixel path: each document becomes an 8x16
    grayscale ARITHMETIC JPEG of two flat blocks with doc_id-formula
    gray levels, resized to 8x8 by the real path (QM decode →
    nearest-neighbor → baseline re-encode → decode): flat blocks survive
    exactly, so p_left/p_right are closed-form.  (2) Entropy-layer
    equivalence on real coefficient data: a doc_id-seeded non-flat
    16x16 image encoded both huffman-baseline and arithmetic must decode
    byte-identically (``arith_agree=1``) — DC conditioning contexts, the
    AC decision tree and the QM state machine all fire inside the
    driver-checked query."""
    from open_ocr_spark.dataops.multimodal import resize_images

    def build(i: int) -> bytes:
        import numpy as np

        from open_ocr_spark.dataops.jpeg_arith import encode_jpeg_arith

        a, b = (i * 5 + 23) % 250, (i * 11 + 42) % 250
        arr = np.empty((8, 16, 3), dtype=np.uint8)
        arr[:, :8] = a
        arr[:, 8:] = b
        return encode_jpeg_arith(arr, grayscale=True)

    media = _twin_media(spark, sf_dir, build)
    resized = resize_images(media, 8, 8)

    def _pixels(mid, payload, w, h):
        import numpy as np

        from open_ocr_spark.dataops.jpeg import decode_jpeg, encode_jpeg
        from open_ocr_spark.dataops.jpeg_arith import encode_jpeg_arith

        arr = decode_jpeg(bytes(payload))
        mid = int(mid)
        rich = (
            (np.arange(16)[:, None] * 29 + np.arange(16) * 13
             + mid * 7) % 256
        ).astype(np.uint8)[:, :, None].repeat(3, axis=2)
        base = decode_jpeg(encode_jpeg(rich, grayscale=True))
        arith = decode_jpeg(encode_jpeg_arith(rich, grayscale=True))
        return [(
            mid, int(w), int(h),
            int(arr[0, 0, 0]), int(arr[7, 7, 0]),
            int(np.array_equal(base, arith)),
        )]

    return map_rows(
        resized.select("media_id", "payload", "width", "height"),
        "doc_id long, width int, height int, p_left int, p_right int, "
        "arith_agree int",
        _pixels,
    ).orderBy("doc_id")


def q_media_frame_sample_mp4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-BMFF demux (dataops/mp4.py) through the driver gate: each
    document becomes a real MP4 with 1 + doc_id%4 one-second video
    samples whose bytes are doc_id-formulas, and sample_frames (the
    REAL container path) must emit every
    sample byte-exactly with its true timestamp. A wrong stsz/stco/stsc
    interpretation, a broken tick->sample mapping or a bad mdat offset
    changes first_byte/frame_len/ts_s and breaks the hash."""
    from open_ocr_spark.dataops.multimodal import sample_frames

    def build(i: int) -> bytes:
        from open_ocr_spark.dataops.mp4 import mux_mp4

        n = 1 + i % 4
        samples = [
            bytes([(i * 7 + k * 3) % 256]) * (1 + (i + k) % 5)
            for k in range(n)
        ]
        return mux_mp4(samples, 64, 48, timescale=600, sample_delta=600)

    media = _twin_media(spark, sf_dir, build)
    frames = sample_frames(media, fps=1.0)
    return frames.select(
        F.col("media_id").alias("doc_id"),
        F.col("frame_idx"),
        F.col("ts_s"),
        F.conv(F.hex(F.substring(F.col("frame"), 1, 1)), 16, 10)
        .cast("int").alias("first_byte"),
        F.octet_length("frame").cast("long").alias("frame_len"),
    ).orderBy("doc_id", "frame_idx")


def q_media_resize_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF codec (dataops/gif.py) through the driver gate, hitting every
    decoder feature the format throws at a crawler in ONE oracle-checked
    plan: each document becomes a 4x4 INTERLACED GIF89a (rows stored in
    4-pass order), 32-entry palette, a graphic-control extension marking
    index 16 transparent, and a transparent pixel at display (1,1) that
    must resolve to the background-index color.  The real pixel path
    decodes it, 2x-downsamples (sampling display pixels
    (1,1),(1,3),(3,1),(3,3)), re-encodes as GIF (exact re-palettization),
    and a second kernel decodes THAT to read the four survivors.  A wrong
    LZW width bump, interlace row map, transparency/bg rule or palette
    write breaks the hash."""
    from open_ocr_spark.dataops.multimodal import resize_images

    def build(i: int) -> bytes:
        import struct

        from open_ocr_spark.dataops.gif import lzw_encode

        # palette: 16 pixel grays + transparent slot + bg gray
        pal = bytearray()
        for k in range(16):
            v = (i * 3 + k * 7 + 10) % 239
            pal += bytes((v, v, v))
        pal += b"\x00\x00\x00"  # 16: transparent (color unused)
        bg = (i * 29 + 31) % 239
        pal += bytes((bg, bg, bg))  # 17: background
        pal += b"\x00" * (3 * (32 - 18))
        # display indices: pixel (r,c) -> 4r+c, except (1,1)
        # carries the transparent index; stored INTERLACED
        disp = [[r * 4 + c for c in range(4)] for r in range(4)]
        disp[1][1] = 16
        stored = [disp[r] for r in (0, 2, 1, 3)]  # pass order, h=4
        idx = [p for row in stored for p in row]
        lzw = lzw_encode(idx, 5)
        return (
            b"GIF89a"
            + struct.pack("<HHBBB", 4, 4, 0x80 | 0x04, 17, 0)
            + bytes(pal)
            + b"\x21\xf9\x04\x01\x00\x00\x10\x00"  # GCE: transp=16
            + b"\x2c" + struct.pack("<HHHHB", 0, 0, 4, 4, 0x40)
            + b"\x05" + bytes([len(lzw)]) + lzw + b"\x00"
            + b"\x3b"
        )

    media = _twin_media(spark, sf_dir, build)
    resized = resize_images(media, 2, 2)

    def _corners(mid, payload):
        from open_ocr_spark.dataops.multimodal import decode_pixels

        arr = decode_pixels(bytes(payload))
        return [(
            int(mid), int(arr[0, 0, 0]), int(arr[0, 1, 0]),
            int(arr[1, 0, 0]), int(arr[1, 1, 0]),
        )]

    return map_rows(
        resized.select("media_id", "payload"),
        "doc_id long, p00 int, p01 int, p10 int, p11 int",
        _corners,
    ).orderBy("doc_id")


def q_media_frame_sample_avi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first FULLY real video path — container demux AND pixel
    decode, real at every stage: each document becomes an MJPEG AVI
    (dataops/avi.py) of 1 + doc_id%3 flat-gray 8x8 baseline-JPEG frames
    at 2 fps, sample_frames must emit each frame's exact
    JPEG bytes at its true tick, and a second kernel decodes those bytes
    with the repo's own JPEG decoder (dataops/jpeg.py) to read the gray
    level back.  Flat blocks with all-ones quant tables survive the
    codec exactly, so the oracle is closed-form in doc_id — a RIFF walk
    bug, a dwRate/dwScale mix-up, a tick->frame off-by-one or any JPEG
    regression breaks the hash."""
    from open_ocr_spark.dataops.multimodal import sample_frames

    def build(i: int) -> bytes:
        import numpy as np

        from open_ocr_spark.dataops.avi import build_avi
        from open_ocr_spark.dataops.jpeg import encode_jpeg

        n = 1 + i % 3
        frames = [
            encode_jpeg(
                np.full((8, 8, 3), (i * 2 + k * 9 + 5) % 250, np.uint8),
                grayscale=True,
            )
            for k in range(n)
        ]
        return build_avi(frames, 8, 8, fps=2.0)

    media = _twin_media(spark, sf_dir, build)
    # sampling at the source rate: every frame exactly once, ts = k/2
    frames = sample_frames(media, fps=2.0)

    def _gray(mid, k, ts, frame):
        from open_ocr_spark.dataops.jpeg import decode_jpeg

        arr = decode_jpeg(bytes(frame))
        return [(int(mid), int(k), float(ts), int(arr[0, 0, 0]),
                 int(arr[7, 7, 0]))]

    return map_rows(
        frames.select("media_id", "frame_idx", "ts_s", "frame"),
        "doc_id long, frame_idx int, ts_s double, gray int, gray2 int",
        _gray,
    ).orderBy("doc_id", "frame_idx")


def q_media_frame_sample_webm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EBML/Matroska demux (dataops/ebml.py) through the driver gate:
    each document becomes a real webm — EBML header, Info with a 1 ms
    TimestampScale and float Duration, a VP9-tagged video TrackEntry,
    one Cluster per frame — carrying 1 + doc_id%3 codec samples whose
    bytes are doc_id-formulas, and sample_frames (the REAL container
    path) must emit every sample byte-exactly
    with its true cluster timestamp.  A vint-width bug, a wrong
    TimestampScale application, a missed Cluster boundary or a
    SimpleBlock-header miscount changes first_byte/frame_len/ts_s and
    breaks the hash."""
    from open_ocr_spark.dataops.multimodal import sample_frames

    def build(i: int) -> bytes:
        from open_ocr_spark.dataops.ebml import build_webm

        n = 1 + i % 3
        frames = [
            bytes([(i * 5 + k * 11 + 3) % 256]) * (1 + (i + 2 * k) % 7)
            for k in range(n)
        ]
        return build_webm(frames, 64, 48, fps=2.0)

    media = _twin_media(spark, sf_dir, build)
    # sampling at the source rate: every block exactly once, ts = k/2
    frames = sample_frames(media, fps=2.0)
    return frames.select(
        F.col("media_id").alias("doc_id"),
        F.col("frame_idx"),
        F.col("ts_s"),
        F.conv(F.hex(F.substring(F.col("frame"), 1, 1)), 16, 10)
        .cast("int").alias("first_byte"),
        F.octet_length("frame").cast("long").alias("frame_len"),
    ).orderBy("doc_id", "frame_idx")


def q_audio_stats_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PCM decode (decode_wav) through the driver gate: each document
    becomes a mono 16-bit WAV of 4 + doc_id%5 formula samples and
    audio_stats (real decode; a non-PCM payload is a null row) must
    reproduce the exact integer reductions. The oracle recomputes frame count, first sample,
    peak and total absolute amplitude from the same formulas with a
    range join + aggregation — a byte-order, channel-shape or chunk-walk
    bug changes the integers."""
    from open_ocr_spark.dataops.multimodal import audio_stats

    def build(i: int) -> bytes:
        import numpy as np

        from open_ocr_spark.dataops.multimodal import encode_wav

        n = 4 + i % 5
        samples = np.array(
            [(i * 13 + k * 57) % 201 - 100 for k in range(n)],
            dtype=np.int16,
        )
        return encode_wav(samples, 8000)

    media = _twin_media(spark, sf_dir, build)
    return (
        audio_stats(media)
        .withColumnRenamed("media_id", "doc_id")
        .orderBy("doc_id")
    )


ORACLES["binary_payload_stats"] = """
        SELECT doc_id AS media_id,
               octet_length(encode(text)) AS n_bytes,
               md5(text) AS payload_md5
        FROM documents
        ORDER BY media_id
    """


ORACLES["image_dhash_dedup"] = """
        WITH grp AS (SELECT DISTINCT doc_id % 17 AS g FROM documents),
        hashes AS (
            SELECT g,
                   sum(CASE WHEN ((g*31 + 7*(c.i+1) + 13*r.i) % 120)
                             > ((g*31 + 7*c.i + 13*r.i) % 120)
                        THEN (1::BIGINT << (r.i*7 + c.i))
                        ELSE 0 END)::BIGINT AS dhash
            FROM grp,
                 UNNEST(generate_series(0, 7)) AS r(i),
                 UNNEST(generate_series(0, 6)) AS c(i)
            GROUP BY g
        )
        SELECT h.dhash,
               count(*)::BIGINT AS n_docs,
               min(d.doc_id) AS min_doc,
               max(d.doc_id) AS max_doc
        FROM documents d JOIN hashes h ON d.doc_id % 17 = h.g
        GROUP BY h.dhash
        ORDER BY h.dhash
    """


ORACLES["media_resize"] = """
        SELECT doc_id,
               CAST(102 AS BIGINT) AS n_bytes,  -- 54 + 4 rows * stride 12
               CAST(doc_id % 251 AS INTEGER) AS p00,
               CAST((doc_id * 3 + 7) % 251 AS INTEGER) AS p01,
               CAST((doc_id * 5 + 11) % 251 AS INTEGER) AS p10,
               CAST((doc_id * 7 + 13) % 251 AS INTEGER) AS p11
        FROM documents
        ORDER BY doc_id
    """


ORACLES["media_resize_png"] = """
        SELECT doc_id,
               CAST(doc_id % 241 AS INTEGER) AS p00,
               CAST((doc_id * 11 + 3) % 241 AS INTEGER) AS p01,
               CAST((doc_id * 13 + 29) % 241 AS INTEGER) AS p10,
               CAST((doc_id * 17 + 31) % 241 AS INTEGER) AS p11
        FROM documents
        ORDER BY doc_id
    """


ORACLES["media_resize_jpeg"] = """
        SELECT doc_id,
               CAST(8 AS INTEGER) AS width,
               CAST(8 AS INTEGER) AS height,
               CAST((doc_id * 2 + 5) % 250 AS INTEGER) AS p_left,
               CAST((doc_id * 9 + 40) % 250 AS INTEGER) AS p_right
        FROM documents
        ORDER BY doc_id
    """


ORACLES["media_resize_jpeg_progressive"] = """
        SELECT doc_id,
               CAST(8 AS INTEGER) AS width,
               CAST(8 AS INTEGER) AS height,
               CAST((doc_id * 3 + 11) % 250 AS INTEGER) AS p_left,
               CAST((doc_id * 7 + 60) % 250 AS INTEGER) AS p_right,
               CAST(1 AS INTEGER) AS ac_agree
        FROM documents
        ORDER BY doc_id
    """


ORACLES["media_resize_jpeg_arith"] = """
        SELECT doc_id,
               CAST(8 AS INTEGER) AS width,
               CAST(8 AS INTEGER) AS height,
               CAST((doc_id * 5 + 23) % 250 AS INTEGER) AS p_left,
               CAST((doc_id * 11 + 42) % 250 AS INTEGER) AS p_right,
               CAST(1 AS INTEGER) AS arith_agree
        FROM documents
        ORDER BY doc_id
    """


ORACLES["audio_stats_wav"] = """
        SELECT d.doc_id,
               CAST(8000 AS INTEGER) AS sample_rate,
               CAST(1 AS INTEGER) AS n_channels,
               CAST(4 + d.doc_id % 5 AS BIGINT) AS n_samples,
               CAST((d.doc_id * 13) % 201 - 100 AS INTEGER) AS first_sample,
               CAST(MAX(ABS((d.doc_id * 13 + u.i * 57) % 201 - 100))
                   AS INTEGER) AS peak_amp,
               CAST(SUM(ABS((d.doc_id * 13 + u.i * 57) % 201 - 100))
                   AS BIGINT) AS sum_abs
        FROM documents d
        JOIN (SELECT unnest(range(0, 16)) AS i) u ON u.i < 4 + d.doc_id % 5
        GROUP BY d.doc_id
        ORDER BY d.doc_id
    """


ORACLES["media_frame_sample_mp4"] = """
        SELECT d.doc_id,
               CAST(u.i AS INTEGER) AS frame_idx,
               CAST(u.i AS DOUBLE) AS ts_s,
               CAST((d.doc_id * 7 + u.i * 3) % 256 AS INTEGER) AS first_byte,
               CAST(1 + (d.doc_id + u.i) % 5 AS BIGINT) AS frame_len
        FROM documents d
        JOIN (SELECT unnest(range(0, 8)) AS i) u ON u.i <= d.doc_id % 4
        ORDER BY doc_id, frame_idx
    """


ORACLES["media_resize_gif"] = """
        SELECT doc_id,
               CAST((doc_id * 29 + 31) % 239 AS INTEGER) AS p00,
               CAST((doc_id * 3 + 59) % 239 AS INTEGER) AS p01,
               CAST((doc_id * 3 + 101) % 239 AS INTEGER) AS p10,
               CAST((doc_id * 3 + 115) % 239 AS INTEGER) AS p11
        FROM documents
        ORDER BY doc_id
    """


ORACLES["media_frame_sample_avi"] = """
        SELECT d.doc_id,
               CAST(u.i AS INTEGER) AS frame_idx,
               CAST(u.i / 2.0 AS DOUBLE) AS ts_s,
               CAST((d.doc_id * 2 + u.i * 9 + 5) % 250 AS INTEGER) AS gray,
               CAST((d.doc_id * 2 + u.i * 9 + 5) % 250 AS INTEGER) AS gray2
        FROM documents d
        JOIN (SELECT unnest(range(0, 3)) AS i) u ON u.i <= d.doc_id % 3
        ORDER BY doc_id, frame_idx
    """


ORACLES["media_frame_sample_webm"] = """
        SELECT d.doc_id,
               CAST(u.i AS INTEGER) AS frame_idx,
               CAST(u.i / 2.0 AS DOUBLE) AS ts_s,
               CAST((d.doc_id * 5 + u.i * 11 + 3) % 256 AS INTEGER)
                   AS first_byte,
               CAST(1 + (d.doc_id + 2 * u.i) % 7 AS BIGINT) AS frame_len
        FROM documents d
        JOIN (SELECT unnest(range(0, 3)) AS i) u ON u.i <= d.doc_id % 3
        ORDER BY doc_id, frame_idx
    """


def q_exif_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF capture metadata (r5, dataops/exif.py): each document becomes
    a JPEG whose Exif APP1 carries formula-derived tags, ALTERNATING TIFF
    byte order per row (II even doc_ids, MM odd) so both endiannesses sit
    in one hashed surface; every 10th payload is non-JPEG garbage and
    must surface as an all-null row (the error-as-value contract, not an
    aborted job).  The oracle recomputes every tag closed-form — a
    byte-order slip, an inline-vs-offset value bug, a wrong IFD walk, or
    a dropped error row all break the hash."""
    def build(i: int) -> bytes:
        from open_ocr_spark.dataops.exif import build_exif_jpeg

        if i % 10 == 9:
            return b"not a jpeg %d" % i
        return build_exif_jpeg(
            byte_order="II" if i % 2 == 0 else "MM",
            make=f"Make{i % 3}",
            model=f"Cam{i % 7}",
            orientation=1 + i % 8,
            x_resolution=(72 + i % 4, 1),
            datetime=f"2024:01:0{1 + i % 9} 12:00:00",
            exposure_time=(1, 60 + i % 200),
            iso=100 * (1 + i % 32),
            pixel_x=640 + i % 1024,
        )

    from open_ocr_spark.dataops.exif import exif_metadata

    media = _twin_media(spark, sf_dir, build)
    return (
        exif_metadata(media)
        .withColumnRenamed("media_id", "doc_id")
        .orderBy("doc_id")
    )


ORACLES["exif_metadata"] = """
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 9 THEN NULL
                    WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END
                   AS byte_order,
               CASE WHEN doc_id % 10 = 9 THEN NULL
                    ELSE 'Make' || (doc_id % 3)::VARCHAR END AS make,
               CASE WHEN doc_id % 10 = 9 THEN NULL
                    ELSE 'Cam' || (doc_id % 7)::VARCHAR END AS model,
               CASE WHEN doc_id % 10 = 9 THEN NULL
                    ELSE CAST(1 + doc_id % 8 AS INTEGER) END AS orientation,
               CASE WHEN doc_id % 10 = 9 THEN NULL
                    ELSE CAST(72 + doc_id % 4 AS BIGINT) END AS x_res_num,
               CASE WHEN doc_id % 10 = 9 THEN NULL
                    ELSE CAST(1 AS BIGINT) END AS x_res_den,
               CASE WHEN doc_id % 10 = 9 THEN NULL
                    ELSE '2024:01:0' || (1 + doc_id % 9)::VARCHAR
                         || ' 12:00:00' END AS datetime,
               CASE WHEN doc_id % 10 = 9 THEN NULL
                    ELSE CAST(1 AS BIGINT) END AS exposure_num,
               CASE WHEN doc_id % 10 = 9 THEN NULL
                    ELSE CAST(60 + doc_id % 200 AS BIGINT) END
                   AS exposure_den,
               CASE WHEN doc_id % 10 = 9 THEN NULL
                    ELSE CAST(100 * (1 + doc_id % 32) AS INTEGER) END AS iso,
               CASE WHEN doc_id % 10 = 9 THEN NULL
                    ELSE CAST(640 + doc_id % 1024 AS BIGINT) END AS pixel_x
        FROM documents
        ORDER BY doc_id
    """


def q_exif_gps_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-PII scrub audit (r5, dataops/exif.py gps_scrub_report):
    two-thirds of the fixture JPEGs carry a GPS sub-IFD with
    formula-derived rational coordinates (both byte orders), the scrub
    is an ALLOWLIST RE-ENCODE (GPS and unknown tags gone by
    construction), and the kernel re-parses its own output — the hashed
    surface checks the found coordinates, the post-scrub GPS absence,
    and that an allowlisted tag (make) survived.  Every 10th payload is
    garbage and must surface as a null row."""
    def build(i: int) -> bytes:
        from open_ocr_spark.dataops.exif import build_exif_jpeg

        if i % 10 == 9:
            return b"JFIF? no. %d" % i
        gps = None
        if i % 3 != 2:
            gps = {
                "lat_ref": "N" if i % 2 == 0 else "S",
                "lat": [(i % 90, 1), (i % 60, 1), (i % 6000, 100)],
                "lon_ref": "E" if i % 4 < 2 else "W",
                "lon": [(i % 180, 1), ((i * 7) % 60, 1),
                        ((i * 11) % 6000, 100)],
            }
        return build_exif_jpeg(
            byte_order="II" if i % 2 == 0 else "MM",
            make=f"Make{i % 3}",
            iso=100 + i % 700,
            gps=gps,
        )

    from open_ocr_spark.dataops.exif import gps_scrub_report

    media = _twin_media(spark, sf_dir, build)
    return (
        gps_scrub_report(media)
        .withColumnRenamed("media_id", "doc_id")
        .orderBy("doc_id")
    )


ORACLES["exif_gps_scrub"] = """
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 9 THEN NULL
                    ELSE doc_id % 3 != 2 END AS had_gps,
               CASE WHEN doc_id % 10 = 9 OR doc_id % 3 = 2 THEN NULL
                    WHEN doc_id % 2 = 0 THEN 'N' ELSE 'S' END
                   AS gps_lat_ref,
               CASE WHEN doc_id % 10 = 9 OR doc_id % 3 = 2 THEN NULL
                    ELSE (doc_id % 90)::VARCHAR || '/1,'
                         || (doc_id % 60)::VARCHAR || '/1,'
                         || (doc_id % 6000)::VARCHAR || '/100' END
                   AS gps_lat_dms,
               CASE WHEN doc_id % 10 = 9 OR doc_id % 3 = 2 THEN NULL
                    WHEN doc_id % 4 < 2 THEN 'E' ELSE 'W' END
                   AS gps_lon_ref,
               CASE WHEN doc_id % 10 = 9 OR doc_id % 3 = 2 THEN NULL
                    ELSE (doc_id % 180)::VARCHAR || '/1,'
                         || ((doc_id * 7) % 60)::VARCHAR || '/1,'
                         || ((doc_id * 11) % 6000)::VARCHAR || '/100' END
                   AS gps_lon_dms,
               CASE WHEN doc_id % 10 = 9 THEN NULL
                    ELSE FALSE END AS scrub_has_gps,
               CASE WHEN doc_id % 10 = 9 THEN NULL
                    ELSE 'Make' || (doc_id % 3)::VARCHAR END AS make_after
        FROM documents
        ORDER BY doc_id
    """
