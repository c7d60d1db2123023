"""WARC container source: spec-shaped parsing, gzip member-per-record,
hostile payloads as error values, and decontamination shingle edges."""

import gzip

import pyspark.sql.functions as F

from open_ocr_spark.dataops.decontam import decontaminate, word_ngrams
from open_ocr_spark.sources import parse_warc_bytes, records_from_warc


def _record(uri: str, body: bytes, rtype: str = "response") -> bytes:
    return (
        f"WARC/1.0\r\nWARC-Type: {rtype}\r\nWARC-Target-URI: {uri}\r\n"
        f"WARC-Date: 2024-01-01T00:00:00Z\r\nContent-Type: text/plain\r\n"
        f"Content-Length: {len(body)}\r\n\r\n".encode() + body
    )


def _warc(*recs: bytes) -> bytes:
    return b"\r\n\r\n".join(recs)


# ------------------------------------------------------------ pure parser


def test_parse_plain_multi_record():
    recs = parse_warc_bytes(
        _warc(_record("u/1", b"hello"), _record("u/2", b"world!"))
    )
    assert [r["error"] for r in recs] == [None, None]
    assert [r["target_uri"] for r in recs] == ["u/1", "u/2"]
    assert [r["payload"] for r in recs] == [b"hello", b"world!"]
    assert [r["rec_index"] for r in recs] == [0, 1]


def test_parse_gzip_member_per_record():
    # Common Crawl compresses one gzip member PER record
    blob = gzip.compress(_record("u/1", b"a") + b"\r\n\r\n") + gzip.compress(
        _record("u/2", b"bb")
    )
    recs = parse_warc_bytes(blob)
    assert [(r["target_uri"], r["payload"]) for r in recs] == [
        ("u/1", b"a"),
        ("u/2", b"bb"),
    ]


def test_parse_payload_containing_separator_bytes():
    # Content-Length framing must win over separator scanning
    body = b"x\r\n\r\nWARC/1.0 fake\r\n\r\ny"
    recs = parse_warc_bytes(_warc(_record("u/1", body), _record("u/2", b"z")))
    assert [r["error"] for r in recs] == [None, None]
    assert recs[0]["payload"] == body


def test_parse_errors_are_values():
    cases = {
        b"NOTWARC": "missing WARC/ magic",
        b"WARC/1.0\r\nWARC-Type: response\r\n": "unterminated header",
        b"WARC/1.0\r\nnocolonhere\r\n\r\n": "malformed header",
        b"WARC/1.0\r\nWARC-Type: x\r\n\r\n": "no Content-Length",
        b"WARC/1.0\r\nContent-Length: ten\r\n\r\n": "bad Content-Length",
        b"WARC/1.0\r\nContent-Length: 99\r\n\r\nshort": "out of range",
        b"\x1f\x8bjunk": "gzip",
    }
    for blob, needle in cases.items():
        recs = parse_warc_bytes(blob)
        assert recs[-1]["error"] is not None and needle in recs[-1]["error"]


def test_parse_bad_separator_keeps_good_prefix():
    blob = _record("u/1", b"ok") + b"XXXX" + _record("u/2", b"lost")
    recs = parse_warc_bytes(blob)
    assert recs[0]["error"] is None and recs[0]["payload"] == b"ok"
    assert "separator" in recs[1]["error"]


def test_parse_decompression_cap():
    bomb = gzip.compress(b"\0" * 4096)
    recs = parse_warc_bytes(bomb, limit=1024)
    assert "over limit" in recs[0]["error"]


def test_parse_empty_and_empty_body():
    assert parse_warc_bytes(b"") == []
    (rec,) = parse_warc_bytes(_record("u/e", b""))
    assert rec["payload"] == b"" and rec["error"] is None


# ------------------------------------------------------------- spark side


def test_records_from_warc_explodes_with_passthrough(spark):
    rows = [
        (1, _warc(_record("u/1", b"aa"), _record("u/2", b"bb"))),
        (2, b"garbage"),
    ]
    df = spark.createDataFrame(rows, "file_id long, warc binary")
    out = records_from_warc(df).orderBy("file_id", "rec_index").collect()
    assert [(r["file_id"], r["target_uri"]) for r in out] == [
        (1, "u/1"),
        (1, "u/2"),
        (2, None),
    ]
    assert out[2]["error"] is not None  # error-as-value row, job green


# ------------------------------------------------------------ decontam


def test_word_ngrams_short_text_is_empty(spark):
    out = spark.range(1).select(
        word_ngrams(F.lit("a b"), 3).alias("g"),
        word_ngrams(F.lit("a b c d"), 3).alias("h"),
    ).collect()[0]
    assert out["g"] == [] and out["h"] == ["a b c", "b c d"]


def test_decontaminate_flags_exact_and_partial_overlap(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),   # contains the bench 3-gram
            (2, "quick brown dog sleeps now"),  # shares words, no 3-gram
            (3, "xx"),                          # too short: 0 grams
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, "lorem the quick brown fox ipsum")], "bid long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in decontaminate(docs, bench, n=3).collect()
    }
    assert out[1]["contaminated"] and out[1]["n_hits"] == 2
    assert not out[2]["contaminated"] and out[2]["n_hits"] == 0
    assert out[3]["n_grams"] == 0 and not out[3]["contaminated"]


def test_decontaminate_counts_distinct_grams_once(spark):
    docs = spark.createDataFrame(
        [(1, "a b c a b c a b c")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(0, "a b c")], "bid long, text string")
    (row,) = decontaminate(docs, bench, n=3).collect()
    # 'a b c' appears 3x in the doc but is ONE distinct gram -> one hit
    assert row["n_hits"] == 1 and row["n_grams"] == 3  # abc, bca, cab


# ------------------------------------------------------------- properties

from hypothesis import given, settings
from hypothesis import strategies as st

_uri_chars = st.text(
    st.characters(min_codepoint=33, max_codepoint=126, exclude_characters="\r\n"),
    min_size=1,
    max_size=40,
)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(_uri_chars, st.binary(max_size=200)), min_size=1, max_size=6
    ),
    st.booleans(),
)
def test_warc_roundtrip_property(recs, use_gzip):
    """build -> parse is the identity for any record set (payloads may
    contain separators, WARC magic, gzip magic — framing must win), in
    both plain and member-per-record gzip encodings."""
    blob = _warc(*[_record(u, b) for u, b in recs])
    if use_gzip:
        parts = [_record(u, b) + b"\r\n\r\n" for u, b in recs[:-1]]
        parts.append(_record(*recs[-1]))
        blob = b"".join(gzip.compress(p) for p in parts)
    out = parse_warc_bytes(blob)
    assert [r["error"] for r in out] == [None] * len(recs)
    assert [(r["target_uri"], r["payload"]) for r in out] == recs


@settings(max_examples=120, deadline=None)
@given(st.binary(max_size=400))
def test_warc_parser_total_on_garbage(blob):
    """parse_warc_bytes never raises: any byte string yields records
    and/or one trailing error record."""
    out = parse_warc_bytes(blob)
    assert all(
        (r["error"] is None) == (r["payload"] is not None) for r in out
    )


def test_records_from_warc_non_identifier_passthrough_column(spark):
    # itertuples() positionally renames any column that is not a valid
    # Python identifier (to _1, _2, ...); the kernel must read columns
    # by name so passthrough names like 'file id' survive.
    df = spark.createDataFrame(
        [("f one", _warc(_record("u/1", b"aa")))],
        ["file id", "warc"],
    ).withColumn("warc", F.col("warc").cast("binary"))
    out = records_from_warc(df).collect()
    assert [(r["file id"], r["target_uri"]) for r in out] == [
        ("f one", "u/1")
    ]


def test_word_ngrams_normalize_whitespace(spark):
    # Grams must match across newlines / tab runs: an eval passage
    # reformatted over lines (or line-deduped text rejoined with \n)
    # still contaminates.
    out = spark.range(1).select(
        word_ngrams(F.lit("the quick\nbrown\tfox  jumps"), 3).alias("g"),
        word_ngrams(F.lit("  padded   text here "), 3).alias("h"),
    ).collect()[0]
    assert out["g"] == [
        "the quick brown", "quick brown fox", "brown fox jumps"
    ]
    assert out["h"] == ["padded text here"]


def test_decontaminate_matches_across_line_breaks(spark):
    docs = spark.createDataFrame(
        [(1, "intro line\nthe quick\nbrown fox ends")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, "the quick brown fox")], "bid long, text string"
    )
    out = decontaminate(docs, bench, n=4).collect()[0]
    assert out["contaminated"] and out["n_hits"] == 1


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(_uri_chars, st.binary(max_size=200)), min_size=1, max_size=6
    ),
    st.booleans(),
)
def test_build_warc_roundtrip_property(recs, use_gzip):
    """The library writer (sources.build_warc) -> parser is the identity
    in both plain and member-per-record gzip layouts, including trailing
    record separators on EVERY member (the hand-rolled fixture above
    omits the last one; real archives don't)."""
    from open_ocr_spark.sources import build_warc

    blob = build_warc(recs, gzip_members=use_gzip)
    if use_gzip:
        assert blob[:2] == b"\x1f\x8b"
        # one gzip member per record: each member header carries the magic
        assert blob.count(b"\x1f\x8b\x08") >= len(recs)
    out = parse_warc_bytes(blob)
    assert [r["error"] for r in out] == [None] * len(recs)
    assert [(r["target_uri"], r["payload"]) for r in out] == recs


def test_build_warc_end_to_end_spark(spark):
    """Written multi-member archives explode back through the DataFrame
    source: build 3 files x 4 records with the writer, read with
    records_from_warc, expect every (file, record) back byte-exactly."""
    from open_ocr_spark.sources import build_warc, records_from_warc

    files = [
        (
            f,
            bytearray(
                build_warc(
                    [
                        (f"https://ex.com/{f}/{i}",
                         bytes([f * 16 + i]) * (i + 1))
                        for i in range(4)
                    ],
                    gzip_members=(f % 2 == 0),
                )
            ),
        )
        for f in range(3)
    ]
    df = spark.createDataFrame(files, "file_id long, warc binary")
    rows = records_from_warc(df, "warc").collect()
    assert len(rows) == 12
    got = {
        (r["file_id"], r["rec_index"]): (r["target_uri"], bytes(r["payload"]))
        for r in rows
    }
    for f in range(3):
        for i in range(4):
            assert got[(f, i)] == (
                f"https://ex.com/{f}/{i}", bytes([f * 16 + i]) * (i + 1)
            )
    assert all(r["error"] is None for r in rows)


# --- HTTP envelope inside response payloads -------------------------------------


class TestHttpEnvelope:
    def test_all_four_shapes_roundtrip(self):
        from open_ocr_spark.sources import (
            build_http_response,
            split_http_response,
        )

        body = "Hello <b>world</b>, ärger & more".encode("utf-8")
        for kw in ({}, {"chunked": True}, {"gzipped": True},
                   {"chunked": True, "gzipped": True}):
            s, ct, b, e = split_http_response(build_http_response(body, **kw))
            assert (s, ct, b, e) == (
                200, "text/html; charset=utf-8", body, None
            ), kw

    def test_error_values(self):
        from open_ocr_spark.sources import (
            build_http_response,
            split_http_response,
        )

        assert split_http_response(b"<html>")[3].startswith("not an HTTP")
        assert "unterminated" in split_http_response(b"HTTP/1.1 200 X\r\nA: b")[3]
        assert "status line" in split_http_response(b"HTTP/1.1 abc\r\n\r\n")[3]
        trunc = build_http_response(b"x" * 50, chunked=True)[:-8]
        assert split_http_response(trunc)[3] == "truncated chunk data"
        bad = build_http_response(b"x" * 50, gzipped=True).replace(
            b"\x1f\x8b", b"\x00\x00", 1
        )
        assert "bad gzip" in split_http_response(bad)[3]
        raw = (b"HTTP/1.1 200 X\r\nContent-Encoding: br\r\n\r\nxx")
        assert "unsupported content-encoding" in split_http_response(raw)[3]

    def test_duplicate_headers_last_wins_and_chunk_extension(self):
        from open_ocr_spark.sources import split_http_response

        raw = (
            b"HTTP/1.1 301 Moved\r\nContent-Type: a/b\r\n"
            b"Content-Type: text/plain\r\nTransfer-Encoding: chunked\r\n\r\n"
            b"3;name=value\r\nabc\r\n0\r\nTrailer: ignored\r\n\r\n"
        )
        s, ct, b, e = split_http_response(raw)
        assert (s, ct, b, e) == (301, "text/plain", b"abc", None)

    @given(st.binary(max_size=300), st.booleans(), st.booleans())
    @settings(max_examples=40, deadline=None)
    def test_roundtrip_property(self, body, chunked, gzipped):
        from open_ocr_spark.sources import (
            build_http_response,
            split_http_response,
        )

        s, ct, b, e = split_http_response(
            build_http_response(body, chunked=chunked, gzipped=gzipped)
        )
        assert (s, b, e) == (200, body, None)

    def test_spark_chain_warc_to_body(self, spark):
        from open_ocr_spark.sources import (
            build_http_response,
            build_warc,
            http_responses,
            records_from_warc,
        )

        warc = build_warc(
            [("https://a.com/1",
              build_http_response(b"page one", chunked=True)),
             ("https://a.com/2", b"not http at all")],
            gzip_members=True,
        )
        files = spark.createDataFrame(
            [(1, bytearray(warc))], "file_id long, warc binary"
        )
        rows = {
            r.rec_index: (r.http_status, bytes(r.body) if r.body is not None
                          else None, r.http_error)
            for r in http_responses(
                records_from_warc(files).select("rec_index", "payload")
            ).collect()
        }
        assert rows[0] == (200, b"page one", None)
        assert rows[1][0] is None and "not an HTTP" in rows[1][2]

    def test_unsupported_transfer_coding_is_error_value(self):
        from open_ocr_spark.sources import split_http_response

        raw = b"HTTP/1.1 200 X\r\nTransfer-Encoding: gzip\r\n\r\nxx"
        assert "unsupported transfer-encoding" in split_http_response(raw)[3]
        # the chunked-after-gzip composite is equally unhandled
        raw2 = b"HTTP/1.1 200 X\r\nTransfer-Encoding: gzip, chunked\r\n\r\nxx"
        assert "unsupported transfer-encoding" in split_http_response(raw2)[3]

    def test_truncation_with_padded_empty_body_stays_chunk_error(self):
        # the warc_http query's variant 4 pads the body so the 8-byte
        # cut always lands in chunk DATA, keeping the oracle's error
        # message stable even for empty documents
        from open_ocr_spark.sources import (
            build_http_response,
            split_http_response,
        )

        raw = build_http_response(b" " * 16, chunked=True)[:-8]
        assert split_http_response(raw)[3] == "truncated chunk data"

    def test_truncated_content_coding_is_error_value(self):
        """A gzip or deflate body cut short is an error value, never its
        inflated prefix returned as the page; bytes after a complete
        stream stay ignored, and an empty encoded body stays empty."""
        import random
        import zlib

        from open_ocr_spark.sources import (
            build_http_response,
            split_http_response,
        )

        rng = random.Random(7)
        body = " ".join(f"w{rng.randrange(10**6)}" for _ in range(3000))
        body = body.encode()
        raw = build_http_response(body, gzipped=True)
        sep = raw.index(b"\r\n\r\n") + 4
        cut = raw[:sep + (len(raw) - sep) // 2]
        assert split_http_response(cut) == (
            None, None, None, "truncated gzip body")

        head = b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n"
        enc = zlib.compress(b"hello world " * 100)
        assert split_http_response(head + enc[:len(enc) // 2])[3] == (
            "truncated deflate body")
        assert split_http_response(head + enc + b"tail") == (
            200, None, b"hello world " * 100, None)
        assert split_http_response(head, limit=10) == (200, None, b"", None)
        assert split_http_response(head + enc, limit=100)[3] == (
            "encoded body exceeds decompression cap")
