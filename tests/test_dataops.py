"""Training-data ops tier: dedup (exact/minhash/simhash/jaccard),
similarity search, text stats, multimodal plumbing — correctness on small
controlled inputs (the driver's oracle check covers the testdata tables)."""

import pyspark.sql.functions as F
import pytest

from open_ocr_spark.dataops.dedup import (
    exact_dedup,
    exact_dedup_groups,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles_of_tokens,
    simhash_fingerprints,
)
from open_ocr_spark.dataops.multimodal import (
    binary_stats,
    extract_media_features,
    sniff_media_type,
)
from open_ocr_spark.dataops.similarity import (
    cosine_topk,
    lsh_bucketed_topk,
)
from open_ocr_spark.dataops.textstats import (
    with_lang_id,
    with_quality_score,
    with_token_count,
)
from open_ocr_spark.dataops.words import tokens

BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy dog again and again tonight"
FAR = "completely different content about spark dataframes and shuffles"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE, "en", "s0", len(BASE)),
        (1, BASE, "en", "s0", len(BASE)),          # exact dup of 0
        (2, NEAR, "en", "s1", len(NEAR)),          # near dup of 0
        (3, FAR, "en", "s1", len(FAR)),
        (4, "tiny", "en", "s2", 4),                # < k tokens: no shingles
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).cache()


def test_exact_dedup(docs):
    groups = {r["keep_doc_id"]: r["n_copies"] for r in exact_dedup_groups(docs).collect()}
    assert groups[0] == 2  # doc 1 collapsed into doc 0
    kept = {r["doc_id"] for r in exact_dedup(docs).collect()}
    assert kept == {0, 2, 3, 4}


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0          # exact dup
    assert (0, 2) in pairs and pairs[(0, 2)] >= 0.5   # near dup
    assert not any(3 in p for p in pairs)  # FAR matches nothing


def test_minhash_lsh_agrees_with_exact(docs):
    lsh = {(r["doc_a"], r["doc_b"]) for r in
           minhash_lsh_pairs(docs, k=3, threshold=0.8).collect()}
    exact = {(r["doc_a"], r["doc_b"]) for r in
             ngram_jaccard_pairs(docs, k=3, threshold=0.8).collect()}
    # LSH verifies candidates with exact jaccard -> no false positives,
    # and on identical docs the bands must collide -> (0,1) present
    assert lsh <= exact
    assert (0, 1) in lsh


def test_minhash_signature_shape_and_determinism(docs):
    sigs = minhash_signatures(docs, k=3).collect()
    by_id = {r["doc_id"]: r["sig"] for r in sigs}
    assert len(by_id[0]) == 32
    assert by_id[0] == by_id[1]  # identical text -> identical signature
    assert 4 not in by_id        # too short for shingles
    again = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs, k=3).collect()}
    assert by_id == again


def test_simhash_near_dup(docs):
    fps = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    assert fps[0] == fps[1]


def test_minhash_collapsed_equals_direct(docs):
    """Collapsed pipeline == direct doc-level formulation (the oracle SQL
    is formulated doc-level, so this is the equivalence its green row
    rests on)."""
    from open_ocr_spark.dataops.dedup import _minhash_lsh_pairs_direct

    collapsed = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in
                 minhash_lsh_pairs(docs, k=3, threshold=0.8).collect()}
    direct = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in
              _minhash_lsh_pairs_direct(docs.select("doc_id", "text"), k=3,
                                        threshold=0.8).collect()}
    assert collapsed == direct
    assert (0, 1, 1.0) in collapsed


def test_simhash_collapsed_equals_direct_and_62bit(docs):
    from open_ocr_spark.dataops.dedup import _simhash_fingerprints_direct

    collapsed = {r["doc_id"]: r["simhash"] for r in
                 simhash_fingerprints(docs).collect()}
    direct = {r["doc_id"]: r["simhash"] for r in
              _simhash_fingerprints_direct(
                  docs.select("doc_id", "text")).collect()}
    assert collapsed == direct
    assert collapsed[0] == collapsed[1]
    # 62-bit cap: signed-int64-safe in any engine
    assert all(0 <= v < (1 << 62) for v in collapsed.values())


def test_word_shingles_edge(spark):
    df = spark.createDataFrame([(1, "a b"), (2, "a b c d")], "doc_id long, text string")
    got = df.select(
        "doc_id", shingles_of_tokens(tokens(F.col("text")), 3).alias("s")
    ).collect()
    by_id = {r["doc_id"]: r["s"] for r in got}
    assert by_id[1] == []
    assert by_id[2] == ["a b c", "b c d"]


# --- similarity -------------------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 0),   # closest to 0
        (2, [0.0, 1.0, 0.0, 0.0], 1),   # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0], 1),  # opposite
        (4, [0.7, 0.7, 0.0, 0.0], 2),
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).cache()


def test_cosine_topk_order(emb):
    got = cosine_topk(emb, query_vec_id=0, k=3).collect()
    assert [r["vec_id"] for r in got] == [1, 4, 2]
    assert got[0]["cos_sim"] == pytest.approx(0.9939, abs=1e-4)
    assert got[2]["cos_sim"] == 0.0


def test_lsh_topk_subset_of_brute_force(emb):
    brute = {r["vec_id"] for r in cosine_topk(emb, 0, k=4).collect()}
    lsh = [r for r in lsh_bucketed_topk(emb, 0, k=4, dim=4, n_planes=2).collect()]
    assert {r["vec_id"] for r in lsh} <= brute | {3}
    # same-bucket vectors keep exact cosine scores
    for r in lsh:
        assert r["cos_sim"] is not None


def test_ivf_topk_finds_near_neighbors(emb):
    from open_ocr_spark.dataops.similarity import ivf_topk

    got = ivf_topk(emb, 0, k=3, dim=4, nprobe=2).collect()
    ids = [r["vec_id"] for r in got]
    # vec 1 is the true nearest neighbor; with 2 probed cells of 3 it must
    # be found, and scores are exact cosine (0.9/sqrt(0.82) ~= 0.9939)
    assert ids[0] == 1
    assert abs(got[0]["cos_sim"] - 0.9939) < 1e-3
    # query vector itself never appears
    assert 0 not in ids


def test_ivf_index_deterministic_and_total(emb):
    from open_ocr_spark.dataops.similarity import ivf_index

    _, a1 = ivf_index(emb, dim=4)
    _, a2 = ivf_index(emb.repartition(7), dim=4)
    m1 = {r["vec_id"]: r["cell"] for r in a1.collect()}
    m2 = {r["vec_id"]: r["cell"] for r in a2.collect()}
    assert m1 == m2                      # partition-invariant assignment
    assert set(m1) == {0, 1, 2, 3, 4}    # every vector assigned


# --- textstats ---------------------------------------------------------------


def test_token_count_edges(spark):
    df = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "one"), (3, "a  b\tc")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_tokens"] for r in with_token_count(df).collect()}
    assert got == {0: 0, 1: 0, 2: 1, 3: 3}


def test_quality_score_monotone(spark):
    df = spark.createDataFrame(
        [(0, "word " * 200), (1, "x")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["quality_score"] for r in with_quality_score(df).collect()}
    assert got[0] > got[1]


def test_lang_id_heuristic(spark, docs):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog went to the park and it is fine"),
            (1, "der hund und die katze das ist ein gutes leben und nicht schlecht"),
            (2, "一些中文内容在这里还有更多中文字符来确保密度够高"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lang_pred"] for r in with_lang_id(df).collect()}
    assert got[0] == "en"
    assert got[1] == "de"
    assert got[2] == "zh"
    assert got[3] == "und"


from open_ocr_spark.dataops.textstats import (  # noqa: E402
    LANG_ID_FIXTURE as _LANG_FIXTURE,
)


def test_lang_id_accuracy_gate():
    """Deterministic accuracy gate over 16 languages / 9 scripts: the
    trigram profiles and script rules must classify every fixture
    sentence correctly (pure-Python series path — no Spark needed)."""
    import pandas as pd

    from open_ocr_spark.dataops.textstats import _lang_id_series

    preds = list(_lang_id_series(pd.Series([t for _, t in _LANG_FIXTURE])))
    wrong = [
        (exp, got) for (exp, _), got in zip(_LANG_FIXTURE, preds)
        if exp != got
    ]
    assert not wrong, wrong
    # determinism: same input -> same output
    again = list(_lang_id_series(pd.Series([t for _, t in _LANG_FIXTURE])))
    assert preds == again


# --- multimodal ---------------------------------------------------------------


def test_sniff_media_type():
    assert sniff_media_type(b"\x89PNG\r\n\x1a\n....") == "image/png"
    assert sniff_media_type(b"\xff\xd8\xff\xe0JFIF") == "image/jpeg"
    assert sniff_media_type(b"RIFF....WAVE") == "audio/wav"
    assert sniff_media_type(b"plain") == "application/octet-stream"
    assert sniff_media_type(None) == "application/octet-stream"


def test_media_features_plumbing(spark):
    rows = [
        (0, b"\x89PNG\r\n\x1a\nxxxx", None, None),
        (1, b"\xff\xd8\xff\xe0data", "image/jpeg", None),
        (2, None, None, None),
        (3, b"", None, None),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, payload binary, media_type string, meta map<string,string>",
    )
    got = {r["media_id"]: r for r in extract_media_features(media).collect()}
    assert got[0]["media_type"] == "image/png"
    assert got[0]["n_bytes"] == 12 and len(got[0]["sha1"]) == 40
    assert got[0]["width"] is None  # truncated header: no dims invented
    assert got[2]["n_bytes"] == 0 and got[2]["width"] is None
    # determinism across invocations
    again = {r["media_id"]: r for r in extract_media_features(media).collect()}
    assert got == again


def test_resize_images_deterministic(spark):
    import numpy as np

    from open_ocr_spark.dataops.multimodal import encode_png, resize_images

    png = encode_png(np.arange(48, dtype=np.uint8).reshape(4, 4, 3))
    media = spark.createDataFrame(
        [(0, png), (1, b""), (2, None)],
        "media_id long, payload binary",
    )
    got = {r["media_id"]: r for r in resize_images(media, 32, 32).collect()}
    assert got[0]["width"] == 32
    assert got[0]["n_bytes"] == len(got[0]["payload"]) > 0
    assert got[1]["payload"] is None and got[2]["payload"] is None
    again = {r["media_id"]: r for r in resize_images(media, 32, 32).collect()}
    assert bytes(got[0]["payload"]) == bytes(again[0]["payload"])
    # different target size -> different payload (dims are baked in)
    other = {r["media_id"]: r for r in resize_images(media, 64, 64).collect()}
    assert bytes(other[0]["payload"]) != bytes(got[0]["payload"])


def test_resize_images_bmp_pixel_exact(spark):
    """Real pixel path (VERDICT r2 item 10): a 2x2 24-bit BMP resized to
    4x4 by nearest-neighbor must replicate each source pixel into its 2x2
    block, pixel-exact, decodable by the pure-numpy decoder."""
    import numpy as np

    from open_ocr_spark.dataops.multimodal import (
        decode_pixels,
        encode_bmp24,
        resize_images,
    )

    src = np.array(
        [[[255, 0, 0], [0, 255, 0]],
         [[0, 0, 255], [255, 255, 0]]], dtype=np.uint8
    )
    bmp = encode_bmp24(src)
    assert np.array_equal(decode_pixels(bmp), src)  # round-trip first

    media = spark.createDataFrame(
        [(0, bmp)], "media_id long, payload binary"
    )
    row = resize_images(media, 4, 4).collect()[0]
    out = decode_pixels(bytes(row["payload"]))
    assert out.shape == (4, 4, 3)
    want = src.repeat(2, axis=0).repeat(2, axis=1)
    assert np.array_equal(out, want)


def test_resize_images_ppm_and_downscale(spark):
    """P6 PPM stays PPM through resize; 4x4 -> 2x2 nearest keeps the
    pixel-center sample (index floor((i+.5)*4/2) = 1,3)."""
    import numpy as np

    from open_ocr_spark.dataops.multimodal import (
        decode_pixels,
        encode_ppm,
        resize_images,
    )

    src = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    ppm = encode_ppm(src)
    assert np.array_equal(decode_pixels(ppm), src)

    media = spark.createDataFrame(
        [(0, ppm)], "media_id long, payload binary"
    )
    row = resize_images(media, 2, 2).collect()[0]
    assert bytes(row["payload"])[:2] == b"P6"
    out = decode_pixels(bytes(row["payload"]))
    assert np.array_equal(out, src[[1, 3]][:, [1, 3]])


def test_decode_pixels_edge_cases():
    import numpy as np
    import pytest as _pytest

    from open_ocr_spark.dataops.multimodal import decode_pixels, encode_bmp24

    # PPM comments + odd dims round-trip through the header parser
    src = np.full((3, 5, 3), 7, dtype=np.uint8)
    ppm = b"P6\n# a comment\n5 3\n255\n" + src.tobytes()
    assert np.array_equal(decode_pixels(ppm), src)
    # truncated BMP raster is an error, not garbage pixels
    bmp = encode_bmp24(src)
    with _pytest.raises(ValueError, match="truncated"):
        decode_pixels(bmp[:-4])
    # GIF is a recognized format since r4: a truncated header is an
    # error, not a silent None
    with _pytest.raises(ValueError, match="gif"):
        decode_pixels(b"GIF89a\x01\x00\x01\x00")
    # genuinely foreign bytes: None (the operators emit a null row)
    assert decode_pixels(b"\x00\x01no such format") is None
    # CRLF after maxval = text-mode-written file: a naive single-byte
    # skip would decode every pixel one byte off — must refuse
    crlf = b"P6\n5 3\n255\r\n" + src.tobytes()
    with _pytest.raises(ValueError, match="CR after maxval"):
        decode_pixels(crlf)
    # missing separator after maxval
    with _pytest.raises(ValueError, match="missing whitespace"):
        decode_pixels(b"P6 5 3 255")


def _png_forward_filter(src, filter_types):
    """Forward-filter an (h, w, 3) image with a chosen filter type per row
    (RFC 2083 §6 encoder side) and wrap it in a valid PNG — lets the tests
    exercise every decoder filter branch against a known image."""
    import struct
    import zlib

    import numpy as np

    h, w = src.shape[:2]
    flat = src.reshape(h, w * 3).astype(np.int64)
    out = bytearray()
    for y, ftype in zip(range(h), filter_types):
        row = flat[y]
        prev = flat[y - 1] if y else np.zeros(w * 3, dtype=np.int64)
        left = np.concatenate([np.zeros(3, dtype=np.int64), row[:-3]])
        upleft = np.concatenate([np.zeros(3, dtype=np.int64), prev[:-3]])
        if ftype == 0:
            filt = row
        elif ftype == 1:
            filt = row - left
        elif ftype == 2:
            filt = row - prev
        elif ftype == 3:
            filt = row - (left + prev) // 2
        else:  # Paeth
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, upleft))
            filt = row - pred
        out.append(ftype)
        out.extend((filt & 255).astype(np.uint8).tobytes())

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(out))) + chunk(b"IEND", b""))


def test_png_roundtrip_and_all_filters():
    """encode_png -> decode_pixels round-trips exactly, and every PNG
    filter type (None/Sub/Up/Average/Paeth) reconstructs the same image
    from an independently forward-filtered stream."""
    import numpy as np

    from open_ocr_spark.dataops.multimodal import decode_pixels, encode_png

    rng = np.random.RandomState(7)
    src = rng.randint(0, 256, size=(7, 5, 3), dtype=np.uint8).astype(np.uint8)
    assert np.array_equal(decode_pixels(encode_png(src)), src)
    # one PNG per filter type, all rows that type
    for ftype in range(5):
        png = _png_forward_filter(src, [ftype] * 7)
        assert np.array_equal(decode_pixels(png), src), f"filter {ftype}"
    # mixed filters (the realistic case: encoders pick per-row)
    png = _png_forward_filter(src, [0, 1, 2, 3, 4, 2, 4])
    assert np.array_equal(decode_pixels(png), src)


def test_png_color_types():
    """Grey, palette, grey+alpha and RGBA PNGs all decode to (h, w, 3) RGB
    with the spec mapping (grey replicated, alpha dropped, palette
    dereferenced)."""
    import struct
    import zlib

    import numpy as np

    from open_ocr_spark.dataops.multimodal import decode_pixels

    def png(w, h, ct, raw, plte=None):
        def chunk(ctype, body):
            return (struct.pack(">I", len(body)) + ctype + body
                    + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))
        parts = [b"\x89PNG\r\n\x1a\n",
                 chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0))]
        if plte is not None:
            parts.append(chunk(b"PLTE", plte))
        parts.append(chunk(b"IDAT", zlib.compress(raw)))
        parts.append(chunk(b"IEND", b""))
        return b"".join(parts)

    # grey 2x1: values 10, 200
    got = decode_pixels(png(2, 1, 0, b"\x00\x0a\xc8"))
    assert np.array_equal(got, [[[10] * 3, [200] * 3]])
    # grey+alpha: alpha dropped
    got = decode_pixels(png(2, 1, 4, b"\x00\x0a\xff\xc8\x00"))
    assert np.array_equal(got, [[[10] * 3, [200] * 3]])
    # RGBA: alpha dropped
    got = decode_pixels(png(1, 1, 6, b"\x00\x01\x02\x03\x80"))
    assert np.array_equal(got, [[[1, 2, 3]]])
    # palette: indices 1, 0 against a 2-entry PLTE
    plte = bytes([255, 0, 0, 0, 0, 255])
    got = decode_pixels(png(2, 1, 3, b"\x00\x01\x00", plte))
    assert np.array_equal(got, [[[0, 0, 255], [255, 0, 0]]])
    # palette index out of range is corrupt, not garbage pixels
    with pytest.raises(ValueError, match="palette index"):
        decode_pixels(png(2, 1, 3, b"\x00\x05\x00", plte))


def test_png_out_of_scope_and_corrupt():
    """16-bit and interlaced PNGs are valid-but-unsupported (None -> null
    row); structural corruption raises ValueError."""
    import struct
    import zlib

    import numpy as np

    from open_ocr_spark.dataops.multimodal import decode_pixels, encode_png

    def with_ihdr(depth, interlace):
        ihdr = struct.pack(">IIBBBBB", 1, 1, depth, 2, 0, 0, interlace)
        def chunk(ctype, body):
            return (struct.pack(">I", len(body)) + ctype + body
                    + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(b"\x00\x01\x02\x03"))
                + chunk(b"IEND", b""))

    assert decode_pixels(with_ihdr(16, 0)) is None
    assert decode_pixels(with_ihdr(8, 1)) is None
    src = np.zeros((2, 2, 3), dtype=np.uint8)
    good = encode_png(src)
    # truncate inside IDAT -> zlib error -> ValueError
    with pytest.raises(ValueError):
        decode_pixels(good[: len(good) - 20])
    # bad filter byte (5) in an otherwise valid stream
    raw = b"\x05" + b"\x00" * 6 + b"\x00" + b"\x00" * 6
    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    bad = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="filter type"):
        decode_pixels(bad)


def test_png_idat_inflates_no_further_than_its_ihdr():
    """A 1x1 truecolor PNG holds 4 bytes of scanline; an IDAT that
    inflates to 64 MB is refused before it allocates them, and the OCR
    row returns it as an error value."""
    import struct
    import tracemalloc
    import zlib

    from open_ocr_spark.dataops.multimodal import decode_pixels
    from open_ocr_spark.kernels.dispatch import extract_document

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    z = zlib.compressobj()
    idat = b"".join(z.compress(b"\x00" * 2**20) for _ in range(64)) + z.flush()
    bomb = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", idat) + chunk(b"IEND", b""))
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="IDAT length mismatch"):
            decode_pixels(bomb)
        assert extract_document(bomb)[:2] == ("", "error:ocr-unsupported")
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 8 * 2**20


@pytest.mark.parametrize("w, h, ct", [
    (0xFFFFFFFF, 0xFFFFFFFF, 2),  # past Py_ssize_t as an inflate cap
    (2**31, 2**31, 6),
    (30000, 30000, 2),  # 2.7 GB of scanlines
])
def test_png_ihdr_past_the_budget_is_refused(w, h, ct):
    """The IHDR's declared size is checked against MAX_GUNZIP_BYTES before
    any IDAT inflates: a corrupt PNG (ValueError), and an OCR error value."""
    import struct
    import zlib

    from open_ocr_spark.dataops.multimodal import decode_pixels
    from open_ocr_spark.kernels.dispatch import extract_document

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(b"\x00" * 2**20))
           + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="IHDR size exceeds"):
        decode_pixels(png)
    assert extract_document(png)[:2] == ("", "error:ocr-unsupported")


def test_resize_images_png_pixel_exact(spark):
    """PNG input stays PNG through resize (container preserved), and the
    pixel path is exact: 2x2 -> 4x4 nearest replicates each source pixel."""
    import numpy as np

    from open_ocr_spark.dataops.multimodal import (
        decode_pixels,
        encode_png,
        resize_images,
    )

    src = np.array(
        [[[255, 0, 0], [0, 255, 0]],
         [[0, 0, 255], [255, 255, 0]]], dtype=np.uint8
    )
    png = encode_png(src)
    media = spark.createDataFrame([(0, png)], "media_id long, payload binary")
    row = resize_images(media, 4, 4).collect()[0]
    out_bytes = bytes(row["payload"])
    assert out_bytes[:8] == b"\x89PNG\r\n\x1a\n"
    out = decode_pixels(out_bytes)
    assert np.array_equal(out, src.repeat(2, axis=0).repeat(2, axis=1))


def test_sample_frames_one_to_many(spark):
    from open_ocr_spark.dataops.ebml import build_webm
    from open_ocr_spark.dataops.multimodal import sample_frames

    webm = build_webm([b"f0", b"f1"], 16, 16, fps=1.0)
    media = spark.createDataFrame(
        [(0, webm), (1, None)],
        "media_id long, payload binary",
    )
    rows = sample_frames(media, fps=2.0).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)
    assert 1 not in by_id                      # null payload -> no frames
    frames = sorted(by_id[0], key=lambda r: r["frame_idx"])
    assert [f["frame_idx"] for f in frames] == list(range(len(frames)))
    assert frames[1]["ts_s"] == 0.5            # fps=2 -> 0.5s spacing
    # deterministic across invocations and partitioning
    again = sample_frames(media.repartition(5), fps=2.0).collect()
    assert sorted((r["media_id"], r["frame_idx"], bytes(r["frame"])) for r in rows) == \
        sorted((r["media_id"], r["frame_idx"], bytes(r["frame"])) for r in again)


def _corrupt_media() -> dict[str, bytes]:
    """One undecodable payload per container the media operators read."""
    import struct

    import numpy as np

    from open_ocr_spark.dataops.avi import build_avi
    from open_ocr_spark.dataops.gif import encode_gif
    from open_ocr_spark.dataops.jpeg import encode_jpeg
    from open_ocr_spark.dataops.mp4 import mux_mp4
    from open_ocr_spark.dataops.multimodal import (
        encode_bmp24,
        encode_png,
        encode_ppm,
    )

    arr = np.arange(72, dtype=np.uint8).reshape(4, 6, 3)  # 6x4 image
    jpeg = encode_jpeg(arr)
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)  # IEEE float
    body = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", 16) + b"\x00" * 16)
    return {
        "png": encode_png(arr)[:-20],
        "bmp": encode_bmp24(arr)[:-4],
        "ppm": encode_ppm(arr)[:-4],
        "gif": encode_gif(arr)[:-6],
        "jpeg": jpeg[:-30],
        "wav_float": b"RIFF" + struct.pack("<I", len(body)) + body,
        "mp4": mux_mp4([b"frame"], 16, 16)[:-6],
        "ebml": b"\x1a\x45\xdf\xa3webm-ish",
        "avi": build_avi([jpeg], 6, 4, fps=2.0)[:-10],
        "jpeg_no_exif": jpeg,
        "foreign": b"\x00\x01no such format",
    }


_IMAGE_KINDS = ("png", "bmp", "ppm", "gif", "jpeg", "foreign")
_EXIF_KINDS = ("jpeg", "jpeg_no_exif", "foreign")
_KINDS_READ = {  # operator -> the corrupt payloads of the containers it reads
    "dhash_images": _IMAGE_KINDS,
    "image_near_dup_groups": _IMAGE_KINDS,
    "resize_images": _IMAGE_KINDS,
    "audio_stats": ("wav_float", "foreign"),
    "extract_media_features": ("png", "bmp", "gif", "jpeg", "wav_float",
                               "mp4", "ebml", "avi", "foreign"),
    "sample_frames": ("mp4", "ebml", "avi", "foreign"),
    "exif_metadata": _EXIF_KINDS,
    "gps_scrub_report": _EXIF_KINDS,
}


@pytest.mark.parametrize("op", list(_KINDS_READ))
def test_undecodable_media_is_a_null_row(spark, op):
    """A payload no parser decodes gets the row a NULL payload gets:
    nulls, no frames, no invented pixels or dims, and the job succeeds.
    extract_media_features keeps only what a header parser found."""
    import hashlib

    from open_ocr_spark.dataops import exif, multimodal, phash

    payloads = _corrupt_media()
    kinds = _KINDS_READ[op]
    n = len(kinds)
    media = spark.createDataFrame(
        [(i, payloads[k], None) for i, k in enumerate(kinds)],
        "media_id long, payload binary, media_type string",
    )

    def nulls(width):
        return [(i,) + (None,) * width for i in range(n)]

    image_dims = (6, 4, 1, None, None, None)
    meta = {"png": image_dims, "bmp": image_dims, "gif": image_dims,
            "jpeg": image_dims, "wav_float": (None, None, 1, 8000, 1, 0.0005)}
    run, want = {
        "dhash_images": (
            lambda m: phash.dhash_images(m).select("media_id", "dhash"),
            nulls(1)),
        "image_near_dup_groups": (
            lambda m: phash.image_near_dup_groups(m, id_col="media_id"),
            [(None, n, 0, n - 1)]),
        "resize_images": (
            multimodal.resize_images,
            [(i, None, None, None, 0) for i in range(n)]),
        "audio_stats": (multimodal.audio_stats, nulls(6)),
        "extract_media_features": (
            multimodal.extract_media_features,
            [(i, multimodal.sniff_media_type(payloads[k]), len(payloads[k]),
              hashlib.sha1(payloads[k]).hexdigest(),
              *meta.get(k, (None,) * 6)) for i, k in enumerate(kinds)]),
        "sample_frames": (multimodal.sample_frames, []),
        "exif_metadata": (exif.exif_metadata, nulls(11)),
        "gps_scrub_report": (exif.gps_scrub_report, nulls(7)),
    }[op]
    got = sorted((tuple(r) for r in run(media).collect()), key=lambda r: r[0])
    assert got == want


def test_binary_stats_jvm_only(spark):
    media = spark.createDataFrame(
        [(0, b"abc"), (1, b"")], "media_id long, payload binary"
    )
    got = {r["media_id"]: r for r in binary_stats(media).collect()}
    assert got[0]["n_bytes"] == 3
    assert got[0]["payload_md5"] == "900150983cd24fb0d6963f7d28e17f72"


# --- as-of join ------------------------------------------------------------


def test_asof_join_semantics(spark):
    from open_ocr_spark.dataops.asof import asof_join

    left = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", "e1"),   # before any right row -> null
            (1, "2024-01-01 12:00:00", "e2"),   # exactly at r1 -> inclusive
            (1, "2024-01-01 15:00:00", "e3"),   # between r1 and r2 -> r1
            (1, "2024-01-02 00:00:00", "e4"),   # after r2 -> r2
            (2, "2024-01-01 12:00:00", "e5"),   # key with no right rows
        ],
        "k long, ts string, name string",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 12:00:00", 100),
            (1, "2024-01-01 18:00:00", 200),
        ],
        "k long, rts string, v int",
    ).withColumn("rts", F.to_timestamp("rts"))

    got = {
        r["name"]: r["v"]
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="rts",
            value_cols=["v"],
        ).collect()
    }
    assert got == {"e1": None, "e2": 100, "e3": 100, "e4": 200, "e5": None}


def test_asof_join_nonidentifier_value_column_names(spark):
    """The null-struct type is built programmatically, not by DDL-string
    concat: value columns named with spaces/colons/commas must work instead
    of dying in the DDL parser (ADVICE r2)."""
    from open_ocr_spark.dataops.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 12:00:00", "e1")], "k long, ts string, name string"
    ).withColumn("ts", F.to_timestamp("ts"))
    right = (
        spark.createDataFrame(
            [(1, "2024-01-01 10:00:00", 7, "x")],
            "k long, rts string, v int, w string",
        )
        .withColumn("rts", F.to_timestamp("rts"))
        .withColumnRenamed("v", "price: usd, net")
        .withColumnRenamed("w", "fx source")
    )
    row = asof_join(
        left, right, on="k", left_ts="ts", right_ts="rts",
        value_cols=["price: usd, net", "fx source"],
    ).collect()[0]
    assert row["price: usd, net"] == 7 and row["fx source"] == "x"


def test_asof_join_partition_invariance(spark):
    """Same result at any parallelism (SURVEY §7.3 Hard #2)."""
    from open_ocr_spark.dataops.asof import asof_join

    left = spark.range(0, 200).select(
        (F.col("id") % 7).alias("k"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("base"),
        F.col("id").alias("event_id"),
    ).select(
        "k",
        (F.col("base") + F.make_interval(mins=F.col("event_id"))).alias("ts"),
        "event_id",
    )
    right = spark.range(0, 40).select(
        (F.col("id") % 7).alias("k"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("base"),
        (F.col("id") * 100).alias("v"),
    ).select(
        "k",
        (F.col("base") + F.make_interval(mins=F.col("v") / 20)).alias("rts"),
        "v",
    )
    run = lambda l, r: sorted(
        (row["event_id"], row["v"])
        for row in asof_join(
            l, r, on="k", left_ts="ts", right_ts="rts", value_cols=["v"]
        ).collect()
    )
    assert run(left, right) == run(left.repartition(13), right.repartition(3))


def test_asof_join_matches_python_reference(spark):
    """Property-style: asof_join agrees with a brute-force python reference
    on a pseudo-random keyed timeline (deterministic seed)."""
    import random

    from open_ocr_spark.dataops.asof import asof_join

    rng = random.Random(7)
    lrows = [
        (rng.randrange(4), rng.randrange(0, 10_000), i)
        for i in range(300)
    ]
    rrows_raw = {(rng.randrange(4), rng.randrange(0, 10_000)) for _ in range(80)}
    rrows = [(k, ts, k * 100_000 + ts) for (k, ts) in rrows_raw]

    left = spark.createDataFrame(
        [(k, f"2024-01-01 00:00:{0:02d}", eid, ts) for (k, ts, eid) in lrows],
        "k long, base string, event_id long, off long",
    ).selectExpr("k", "event_id", "timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,off) AS ts")
    right = spark.createDataFrame(
        rrows, "k long, off long, v long"
    ).selectExpr("k", "timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,off) AS rts", "v")

    got = {
        r["event_id"]: r["v"]
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="rts", value_cols=["v"]
        ).collect()
    }

    expect = {}
    for k, ts, eid in lrows:
        cands = [(rts, v) for (rk, rts, v) in rrows if rk == k and rts <= ts]
        expect[eid] = max(cands)[1] if cands else None
    assert got == expect


# --- distributed_ntile -------------------------------------------------------


def test_distributed_ntile_matches_window_ntile(spark):
    """Exact parity with Spark's ntile() for several bucket counts and
    non-divisible row counts, independent of partitioning."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from open_ocr_spark.dataops.ranking import distributed_ntile

    rows = [(i, (i * 7919) % 1000) for i in range(237)]
    df = spark.createDataFrame(rows, "id long, v long").repartition(13)
    for b in (1, 2, 4, 7, 10):
        got = {
            r["id"]: r["q"]
            for r in distributed_ntile(
                df, b, ["v", "id"], out_col="q", num_partitions=5
            ).collect()
        }
        w = Window.orderBy(F.col("v"), F.col("id"))
        want = {
            r["id"]: r["q"]
            for r in df.withColumn("q", F.ntile(b).over(w)).collect()
        }
        assert got == want, f"buckets={b}"


def test_distributed_ntile_no_global_data_window(spark):
    """The row_number over the DATA must be partitioned (by _pid — every
    range partition ranks in parallel). Unpartitioned Window nodes are
    allowed only over the metadata-sized partition-count aggregate."""
    from open_ocr_spark.dataops.ranking import distributed_ntile

    df = spark.range(100).selectExpr("id", "id % 17 AS v")
    # _pin=False: the production localCheckpoint barrier hides the window
    # behind an RDD scan; the test needs the pre-checkpoint plan
    plan = (
        distributed_ntile(df, 4, ["v", "id"], out_col="q", _pin=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    window_lines = [
        l.strip() for l in plan.splitlines() if "Window [" in l
    ]
    data_windows = [l for l in window_lines if "row_number()" in l]
    assert data_windows, plan
    for l in data_windows:
        # windowspecdefinition(partCols..., orderCols..., frame): the
        # partition col _pid must appear before the first ASC/DESC key
        spec = l.split("windowspecdefinition(", 1)[1]
        assert spec.split(",")[0].startswith("_pid"), l
    for l in window_lines:
        if "row_number()" not in l:
            assert "_cnt" in l, f"global window over non-metadata: {l}"


def test_asof_join_attaches_matched_row_atomically(spark):
    """A NULL value column in the matched right row must stay NULL — not
    inherit the non-null value of an OLDER right row (per-column carry
    would mix columns from different right rows)."""
    from open_ocr_spark.dataops.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100)], "k long, ts long, eid long"
    ).selectExpr("k", "eid", "timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,ts) AS ts")
    right = spark.createDataFrame(
        [(1, 1, "old-a", "old-b"), (1, 5, "new-a", None)],
        "k long, ts long, a string, b string",
    ).selectExpr("k", "timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,ts) AS rts", "a", "b")

    row = asof_join(
        left, right, on="k", left_ts="ts", right_ts="rts",
        value_cols=["a", "b"],
    ).collect()[0]
    assert row["a"] == "new-a"
    assert row["b"] is None  # matched row's NULL, not old-b


def test_asof_join_rejects_reserved_and_colliding_columns(spark):
    import pytest

    from open_ocr_spark.dataops.asof import asof_join

    left = spark.createDataFrame([(1, 1, 2)], "k long, ts long, _asof_side long")
    right = spark.createDataFrame([(1, 1, 3)], "k long, rts long, v long")
    with pytest.raises(ValueError, match="reserved"):
        asof_join(left, right, on="k", left_ts="ts", right_ts="rts",
                  value_cols=["v"])

    left2 = spark.createDataFrame([(1, 1, 2)], "k long, ts long, v long")
    with pytest.raises(ValueError, match="already exist"):
        asof_join(left2, right, on="k", left_ts="ts", right_ts="rts",
                  value_cols=["v"])

    with pytest.raises(ValueError, match="not in right"):
        asof_join(left2.drop("v"), right, on="k", left_ts="ts",
                  right_ts="rts", value_cols=["nope"])


def test_parse_image_dims_real_headers():
    """True dimensions from real PNG/BMP/GIF headers (stdlib-built,
    valid fixtures); None for JPEG and garbage."""
    import struct
    import zlib

    from open_ocr_spark.dataops.multimodal import parse_image_dims

    def png(w, h):
        ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
        chunk = b"IHDR" + ihdr
        return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", len(ihdr)) + chunk
                + struct.pack(">I", zlib.crc32(chunk)))

    def bmp(w, h):
        return (b"BM" + struct.pack("<IHHI", 70, 0, 0, 54)
                + struct.pack("<Iii", 40, w, h) + b"\x00" * 28)

    def gif(w, h):
        return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 6

    assert parse_image_dims(png(640, 480)) == (640, 480)
    assert parse_image_dims(bmp(320, 200)) == (320, 200)
    assert parse_image_dims(bmp(320, -200)) == (320, 200)  # top-down BMP
    assert parse_image_dims(gif(99, 7)) == (99, 7)
    assert parse_image_dims(b"\xff\xd8\xff\xe0JFIF") is None  # truncated jpeg
    assert parse_image_dims(b"\x89PNG\r\n\x1a\nxx") is None  # truncated
    assert parse_image_dims(b"garbage") is None


def test_media_features_use_real_png_dims(spark):
    import struct
    import zlib

    from open_ocr_spark.dataops.multimodal import extract_media_features

    ihdr = struct.pack(">II", 800, 600) + b"\x08\x02\x00\x00\x00"
    chunk = b"IHDR" + ihdr
    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", len(ihdr)) + chunk
           + struct.pack(">I", zlib.crc32(chunk)))
    df = spark.createDataFrame(
        [(1, bytearray(png), "image/png", {})],
        "media_id long, payload binary, media_type string, meta map<string,string>",
    )
    row = extract_media_features(df).collect()[0]
    assert (row["width"], row["height"]) == (800, 600)


def test_connected_components_chain_and_islands(spark):
    """Min-label must propagate across a 6-hop chain (several iterations),
    components stay separate, and dedup_clusters maps singletons to
    themselves."""
    from open_ocr_spark.dataops.clusters import (
        connected_components,
        dedup_clusters,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),   # chain 1..7
         (10, 11), (11, 12),                               # triangle-ish
         (20, 21)],
        "doc_a long, doc_b long",
    ).repartition(5)
    got = {r["id"]: r["cluster_id"]
           for r in connected_components(edges).collect()}
    assert all(got[i] == 1 for i in range(1, 8))
    assert all(got[i] == 10 for i in (10, 11, 12))
    assert got[20] == got[21] == 20

    docs = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 6, 7, 10, 11, 12, 20, 21, 99]],
        "doc_id long",
    )
    full = {r["doc_id"]: r["cluster_id"]
            for r in dedup_clusters(docs, edges).collect()}
    assert full[99] == 99  # singleton: own id
    assert full[7] == 1


def test_connected_components_long_path_graph(spark):
    """A 200-node path (diameter 199) must converge — the case the old
    min-label propagation could NOT survive inside its iteration cap
    (VERDICT r2 item 5): large-star/small-star rounds grow with log^2 of
    component size, not diameter. Also: a shuffled two-path variant and a
    brute-force union-find cross-check."""
    import random

    from open_ocr_spark.dataops.clusters import connected_components

    n = 200
    path = [(i, i + 1) for i in range(1, n)]          # 1-2-...-200
    rng = random.Random(7)
    # second component: a path over shuffled ids 1000..1099, random edge order
    ids = list(range(1000, 1100))
    rng.shuffle(ids)
    path2 = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    rng.shuffle(path2)
    edges = spark.createDataFrame(path + path2, "doc_a long, doc_b long")

    got = {r["id"]: r["cluster_id"]
           for r in connected_components(edges, max_iter=30).collect()}
    assert len(got) == n + 100
    assert all(got[i] == 1 for i in range(1, n + 1))
    assert all(got[i] == 1000 for i in range(1000, 1100))


def test_connected_components_random_graph_matches_union_find(spark):
    """Property-style: on a random sparse graph the distributed result
    equals a driver-side union-find oracle."""
    import random

    from open_ocr_spark.dataops.clusters import connected_components

    rng = random.Random(11)
    verts = list(range(500))
    edges = [(rng.choice(verts), rng.choice(verts)) for _ in range(300)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = {v: v for v in verts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {v for e in edges for v in e}
    want = {v: find(v) for v in touched}

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r["id"]: r["cluster_id"]
           for r in connected_components(df).collect()}
    assert got == want


def test_embedding_near_dup_lsh_subset_and_recall(spark):
    """LSH near-dup pairs are a subset of the exact all-pairs result with
    high recall on true near-dups, and the LSH plan has no cartesian
    product node."""
    from open_ocr_spark.dataops.similarity import (
        embedding_cosine_pairs,
        embedding_near_dup_pairs,
    )
    from open_ocr_spark.queries.embeddings import _near_dup_embedding_corpus

    corpus = _near_dup_embedding_corpus(spark, "/root/testdata/sf0.001")
    exact = {(r["vec_a"], r["vec_b"])
             for r in embedding_cosine_pairs(corpus, 0.99).collect()}
    lsh_df = embedding_near_dup_pairs(corpus, 0.99)
    lsh = {(r["vec_a"], r["vec_b"]) for r in lsh_df.collect()}
    assert lsh <= exact
    assert len(exact) > 0
    assert len(lsh) >= 0.9 * len(exact)
    plan = lsh_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_repetition_stats_known_values(spark):
    from open_ocr_spark.dataops.textstats import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),       # bigrams: ab ba ab ba ab -> 3 distinct? no: 'a b','b a' -> 2 distinct of 5
            (2, "x y z"),             # all bigrams unique
            (3, ""),                  # empty
            (4, "w"),                 # single token: no bigrams
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert got[1]["n_tokens"] == 6
    assert got[1]["dup_bigram_frac"] == 0.6   # 5 bigrams, 2 distinct -> 3/5
    assert got[1]["top_token_frac"] == 0.5    # 'a' and 'b' 3/6 each
    assert got[2]["dup_bigram_frac"] == 0.0
    assert got[2]["top_token_frac"] == 0.3333
    assert got[3]["n_tokens"] == 0 and got[3]["top_token_frac"] == 0.0
    assert got[4]["dup_bigram_frac"] == 0.0 and got[4]["top_token_frac"] == 1.0


def test_scrub_pii_patterns(spark):
    from open_ocr_spark.dataops.textstats import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at a.b-c_d%x@sub.domain.co today"),
            (2, "call +44-020-7946-0958 now"),
            (3, "no pii here at all"),
            (4, "two: x@y.org and +1-555-0100"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["scrubbed"] for r in scrub_pii(df).collect()}
    assert got[1] == "mail me at <EMAIL> today"
    assert got[2] == "call <PHONE> now"
    assert got[3] == "no pii here at all"
    assert got[4] == "two: <EMAIL> and <PHONE>"


def test_parse_image_dims_jpeg_sof():
    """True JPEG dimensions from a minimal marker stream (APP0 + DQT decoy
    + SOF0), and None for a stream with no frame header."""
    import struct

    from open_ocr_spark.dataops.multimodal import parse_image_dims

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    dqt = b"\xff\xdb" + struct.pack(">H", 4) + b"\x00\x00"
    sof0 = (b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", 480, 640) + b"\x01\x11\x00")
    jpeg = b"\xff\xd8" + app0 + dqt + sof0 + b"\xff\xd9"
    assert parse_image_dims(jpeg) == (640, 480)
    assert parse_image_dims(b"\xff\xd8" + app0 + b"\xff\xd9") is None


def test_parse_audio_meta_wav():
    import struct

    from open_ocr_spark.dataops.multimodal import parse_audio_meta

    rate, chans, bits = 16000, 2, 16
    block = chans * bits // 8
    n_samples = 16000  # 1.0 s
    data_len = n_samples * block
    fmt = (b"fmt " + struct.pack("<I", 16)
           + struct.pack("<HHIIHH", 1, chans, rate, rate * block, block, bits))
    data = b"data" + struct.pack("<I", data_len) + b"\x00" * data_len
    wav = (b"RIFF" + struct.pack("<I", 4 + len(fmt) + len(data)) + b"WAVE"
           + fmt + data)
    assert parse_audio_meta(wav) == (16000, 2, 1.0)
    assert parse_audio_meta(b"RIFFxxxxWAVE") is None
    assert parse_audio_meta(b"not audio") is None


def test_media_features_audio_fields(spark):
    import struct

    from open_ocr_spark.dataops.multimodal import extract_media_features

    fmt = (b"fmt " + struct.pack("<I", 16)
           + struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8))
    data = b"data" + struct.pack("<I", 4000) + b"\x00" * 4000
    wav = b"RIFF" + struct.pack("<I", 4 + len(fmt) + len(data)) + b"WAVE" + fmt + data
    df = spark.createDataFrame(
        [(1, bytearray(wav), None, {})],
        "media_id long, payload binary, media_type string, meta map<string,string>",
    )
    row = extract_media_features(df).collect()[0]
    assert row["media_type"] == "audio/wav"
    assert row["sample_rate"] == 8000
    assert row["n_channels"] == 1
    assert row["duration_s"] == 0.5
    assert row["width"] is None


def test_sniff_bm_requires_dib_header():
    import struct

    from open_ocr_spark.dataops.multimodal import sniff_media_type

    assert sniff_media_type(b"BMW dealers sell cars etc etc etc") == (
        "application/octet-stream"
    )
    real = (b"BM" + struct.pack("<IHHI", 70, 0, 0, 54)
            + struct.pack("<Iii", 40, 2, 2) + b"\x00" * 28)
    assert sniff_media_type(real) == "image/bmp"


def test_decode_wav_roundtrip_and_contract():
    import numpy as np
    import pytest as _pytest

    from open_ocr_spark.dataops.multimodal import decode_wav, encode_wav

    s = np.array([[100, -5], [32767, -32768], [0, 7]], dtype=np.int16)
    arr, rate = decode_wav(encode_wav(s, 44100))
    assert rate == 44100 and np.array_equal(arr, s.astype(np.int32))
    # 8-bit unsigned PCM rebases to signed
    import struct

    pcm8 = bytes([0, 128, 255])
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    body = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(pcm8)) + pcm8 + b"\x00")
    wav8 = b"RIFF" + struct.pack("<I", len(body)) + body
    arr, rate = decode_wav(wav8)
    assert arr.ravel().tolist() == [-128, 0, 127]
    # non-WAV -> None; float PCM (fmt 3) -> None; truncated data -> error
    assert decode_wav(b"RIFFxxxxAVI LIST") is None
    full = encode_wav(s, 8000)
    with _pytest.raises(ValueError, match="overruns"):
        decode_wav(full[:-2])


def test_wav_legacy_14_byte_fmt_chunk():
    """Legacy WAVEFORMAT fmt chunks declare size 14 (no wBitsPerSample):
    field reads must be bounded by the chunk's DECLARED size — reading to
    the file bound would take bits-per-sample from the next chunk's header
    bytes. Bits derive from block_align instead, and the meta walk stays
    consistent."""
    import struct

    import numpy as np

    from open_ocr_spark.dataops.multimodal import (
        decode_wav,
        parse_audio_meta,
    )

    samples = np.arange(-4, 4, dtype=np.int16).reshape(-1, 1)
    pcm = samples.astype("<i2").tobytes()
    fmt14 = struct.pack("<HHIIH", 1, 1, 8000, 16000, 2)  # ends at block_align
    body = (b"WAVE" + b"fmt " + struct.pack("<I", 14) + fmt14
            + b"data" + struct.pack("<I", len(pcm)) + pcm)
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    arr, rate = decode_wav(wav)
    assert rate == 8000
    assert np.array_equal(arr[:, 0], np.arange(-4, 4))
    assert parse_audio_meta(wav) == (8000, 1, round(len(pcm) / 16000, 6))
    # a fmt chunk whose declared size can't hold even WAVEFORMAT: no fmt
    body2 = (b"WAVE" + b"fmt " + struct.pack("<I", 8) + fmt14[:8]
             + b"data" + struct.pack("<I", len(pcm)) + pcm)
    wav2 = b"RIFF" + struct.pack("<I", len(body2)) + body2
    assert decode_wav(wav2) is None
    assert parse_audio_meta(wav2) is None


def test_audio_stats_real_path_spark(spark):
    import numpy as np

    from open_ocr_spark.dataops.multimodal import audio_stats, encode_wav

    wav = encode_wav(np.array([10, -20, 30, -40], dtype=np.int16), 16000)
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(b"not audio at all"))],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in audio_stats(df).collect()}
    assert rows[1]["n_samples"] == 4
    assert rows[1]["first_sample"] == 10
    assert rows[1]["peak_amp"] == 40
    assert rows[1]["sum_abs"] == 100
    assert rows[1]["sample_rate"] == 16000
    assert rows[2]["n_samples"] is None  # kept, nulled


def test_audio_stats_truncated_wav_is_null_not_fatal(spark):
    import numpy as np

    from open_ocr_spark.dataops.multimodal import audio_stats, encode_wav

    wav = encode_wav(np.array([1, -2, 3, -4], dtype=np.int16), 8000)
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(wav[:-3]))],  # data chunk cut
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in audio_stats(df).collect()}
    assert rows[1]["n_samples"] == 4
    assert rows[2]["n_samples"] is None  # null row, job green


def test_stratified_sample_exact_matches_manual(spark):
    import hashlib

    from open_ocr_spark.dataops.mixing import stratified_sample_exact

    rows = [(i, ["en", "es", "zh", "xx"][i % 4]) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    fracs = {"en": 0.5, "es": 0.25, "zh": 0.1}
    got = {r.doc_id for r in stratified_sample_exact(df, fracs).collect()}

    def keep(i, lang):
        if lang not in fracs:
            return False
        h = int(hashlib.md5(f"{lang}:{i}".encode()).hexdigest()[:8], 16)
        return h < int(fracs[lang] * 2**32)

    want = {i for i, lang in rows if keep(i, lang)}
    assert got == want and want  # non-empty and exact
    # unknown strata are dropped entirely
    assert all(lang != "xx" for i, lang in rows if i in got)


def test_stratified_sample_exact_is_shuffle_free(spark):
    from pyspark.sql import functions as F

    from open_ocr_spark.dataops.mixing import stratified_sample_exact

    df = spark.range(50).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang")
    )
    plan = (
        stratified_sample_exact(df, {"en": 0.5})
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_readability_reference(spark):
    import re

    from open_ocr_spark.dataops.textstats import with_readability

    texts = [
        "The quick brown fox jumps. It runs! Does it fly?",
        "no terminal punctuation here at all",
        "",
        "Aeiou youyou. y.",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_words, r.n_sentences, r.n_syllables, r.flesch)
        for r in with_readability(df).collect()
    }
    for i, t in enumerate(texts):
        words = len(t.split())
        sents = max(1, len(re.findall(r"[.!?]+", t)))
        syll = len(re.findall(r"[aeiouy]+", t.lower()))
        g = got[i]
        assert (g[0], g[1], g[2]) == (words, sents, syll), (i, g)
        if words:
            want = 206.835 - 1.015 * (words / sents) - 84.6 * (syll / words)
            assert abs(g[3] - want) < 1e-9
        else:
            assert g[3] == 0.0


def test_top_ngrams_reference(spark):
    from collections import Counter

    from open_ocr_spark.dataops.textstats import top_ngrams

    texts = ["a b a b c", "b c b c", "x", ""]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [(r.ngram, r.n_occurrences)
           for r in top_ngrams(df, n=2, k=3).collect()]
    ref = Counter()
    for t in texts:
        w = t.split()
        for j in range(len(w) - 1):
            ref[w[j] + " " + w[j + 1]] += 1
    want = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert got == want


def test_key_skew_gini_reference(spark):
    from open_ocr_spark.dataops.skew import key_skew_gini

    # keys: a x1, b x1, c x8 -> strongly skewed
    rows = [("a",), ("b",)] + [("c",)] * 8
    df = spark.createDataFrame(rows, "k string")
    r = key_skew_gini(df, "k").collect()[0]
    xs = sorted([1, 1, 8])
    n, tot = len(xs), sum(xs)
    wsum = sum((i + 1) * x for i, x in enumerate(xs))
    gini = (2.0 * wsum - (n + 1.0) * tot) / (n * tot)
    assert (r.n_keys, r.total_rows, r.weighted_rank_sum) == (n, tot, wsum)
    assert abs(r.gini_e4 - round(gini, 4)) < 1e-12
    # uniform counts -> gini 0
    u = spark.createDataFrame([("a",), ("b",), ("c",)], "k string")
    assert key_skew_gini(u, "k").collect()[0].gini_e4 == 0.0


# --- SURT + CDX ------------------------------------------------------------------


def test_surt_key_shapes(spark):
    from open_ocr_spark.dataops.urls import surt_key

    import pyspark.sql.functions as F

    rows = [
        (1, "https://news.example.com/a/b?b=1&a=2&utm_source=x"),
        (2, "HTTP://WWW.Example.COM:80/path/"),     # www + default port
        (3, "https://ex.com:8443/x"),               # non-default port kept
        (4, "https://ex.com"),                      # bare host
        (5, "not a url"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    got = {r.id: r.s for r in df.select("id", surt_key("url").alias("s")).collect()}
    assert got == {
        1: "com,example,news)/a/b?a=2&b=1",
        2: "com,example)/path",
        3: "com,ex:8443)/x",
        4: "com,ex)",
        5: None,
        6: None,
    }


def test_cdx_index_order_and_digest(spark):
    import hashlib

    import pyspark.sql.functions as F

    from open_ocr_spark.dataops.urls import cdx_index

    pages = spark.createDataFrame(
        [("https://b.com/x", "2024-01-02", b"one"),
         ("https://a.com/y", "2024-01-01", b"two"),
         ("https://a.com/y", "2024-01-03", b"two"),
         ("bogus", "2024-01-01", b"z")],
        "url string, ts string, html binary",
    ).select("url", F.to_timestamp("ts").alias("warc_ts"), "html")
    rows = cdx_index(pages).collect()
    assert [r.surt for r in rows] == ["com,a)/y", "com,a)/y", "com,b)/x"]
    assert rows[0].warc_ts < rows[1].warc_ts  # captures in time order
    assert rows[0].digest == rows[1].digest == hashlib.md5(b"two").hexdigest()


def test_cms_estimate_never_undercounts(spark):
    """Count-Min's one-sided error: est >= truth for every key, with
    width deliberately far below the key cardinality."""
    import pyspark.sql.functions as F

    from open_ocr_spark.dataops.cms import cms_build, cms_estimate

    items = spark.range(2000).select(
        F.concat(F.lit("k"), (F.col("id") % 97).cast("string")).alias("key")
    )
    truth = items.groupBy("key").agg(F.count("*").alias("true_cnt"))
    sketch = cms_build(items, depth=4, width=8)
    est = cms_estimate(sketch, truth.select("key"), depth=4, width=8)
    rows = truth.join(est, "key").collect()
    assert len(rows) == 97
    assert all(r["cms_est"] >= r["true_cnt"] for r in rows)
    assert any(r["cms_est"] > r["true_cnt"] for r in rows)  # collisions
