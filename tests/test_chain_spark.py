"""Chain-semantics + options tier on Spark (SURVEY.md §5.2.3): per-row
engine dispatch, reverse-order chains, preprocessor args, structured output
— the reference's engine-args test matrix
(/root/reference/tesseract_engine_test.go:39-68) recast over DataFrames."""

import json
from collections import Counter

import pyspark.sql.functions as F
import pytest

from open_ocr_spark.kernels.mock import MOCK_ENGINE_RESPONSE
from open_ocr_spark.pipeline.stages import extract_stage

HTML = (
    '<html><body><nav><a href="/">Home</a><a href="/b">More</a></nav>'
    "<article><p>Content paragraph one here.</p></article>"
    '<footer><a href="/x">x</a></footer></body></html>'
).encode()

PDF = b"%PDF-1.4\nBT (pdf line) Tj ET\n%%EOF"

SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "engine string, engine_args map<string,string>, "
    "preprocessors array<string>, preprocessor_args map<string,string>"
)


def _run(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    return {r["url"]: r for r in extract_stage(df).collect()}


def test_engine_column_dispatch(spark):
    rows = [
        ("u1", None, HTML, "", "eng", "tesseract", None, None, None),
        ("u2", None, HTML, "", "eng", "mock", None, None, None),
        ("u3", None, HTML, "", "eng", "NO-SUCH", None, None, None),  # -> mock
        ("u4", None, HTML, "", "eng", None, None, None, None),  # -> tesseract
    ]
    got = _run(spark, rows)
    assert got["u1"]["extracted_text"] == "Content paragraph one here."
    assert got["u2"]["extracted_text"] == MOCK_ENGINE_RESPONSE
    assert got["u3"]["extracted_text"] == MOCK_ENGINE_RESPONSE
    assert got["u4"]["extracted_text"] == "Content paragraph one here."


def test_chain_reverse_order_routing(spark):
    # ["convert-pdf","stroke-width-transform"] runs SWT first, PDF second
    # (ocr_request.go:21-31 pop-from-end); for a PDF payload the PDF stage
    # must still fire.
    rows = [
        ("p1", None, PDF, "", "eng", "tesseract", None,
         ["convert-pdf", "stroke-width-transform"], None),
        ("p2", None, PDF, "", "eng", "tesseract", None, ["identity"], None),
        ("p3", None, HTML, "", "eng", "tesseract", None,
         ["identity", "stroke-width-transform"], None),
        ("p4", None, HTML, "", "eng", "tesseract", None, ["bogus-stage"], None),
    ]
    got = _run(spark, rows)
    assert got["p1"]["extracted_text"] == "pdf line"
    # identity-only chain on a PDF: engine still routes by magic bytes
    assert got["p2"]["extracted_text"] == "pdf line"
    assert got["p3"]["extracted_text"] == "Content paragraph one here."
    assert got["p4"]["status"] == "error:preprocessor"


def test_engine_args_matrix(spark):
    # tesseract_engine_test.go:46-50 JSON matrix recast: null args, psm,
    # lang, char whitelist (opaque config var), hOCR switch
    rows = [
        ("a1", None, HTML, "", "eng", "tesseract", None, None, None),
        ("a2", None, HTML, "", "eng", "tesseract", {"psm": "0"}, None, None),
        ("a3", None, HTML, "", "eng", "tesseract", {"lang": "jpn"}, None, None),
        ("a4", None, HTML, "", "eng", "tesseract", {"lang": "nope"}, None, None),
        ("a5", None, HTML, "", "eng", "tesseract",
         {"tessedit_create_hocr": "1"}, None, None),
    ]
    # map<string,string> engine_args: config_vars flattened as plain keys
    # are not the reference shape; the kernel receives the dict as-is, so
    # emulate config_vars via the structured path below instead.
    got = _run(spark, rows)
    assert got["a1"]["status"] == "ok"
    assert got["a2"]["status"] == "ok"
    assert got["a3"]["status"] == "ok"
    assert got["a4"]["status"] == "error:lang"
    assert got["a5"]["status"] == "ok"  # unknown top-level key ignored


def test_structured_output_mode_spark(spark):
    # config_vars nesting needs a map<string,map<...>>-free shape: the
    # kernel accepts engine_args["config_vars"] as a dict; over Spark we
    # pass it through a json-encoded column instead.
    from open_ocr_spark.kernels.dispatch import extract_document

    text, status, _ = extract_document(
        HTML, engine_args={"config_vars": {"tessedit_create_hocr": "1"}}
    )
    assert status == "ok"
    spans = json.loads(text)["spans"]
    assert spans[0]["text"] == "Content paragraph one here."


def test_swt_mode_flag_spark(spark):
    html = (
        b"<body><div><p>Main body text with several words.</p>"
        b"<footer>footer junk</footer></div></body>"
    )
    rows = [
        ("s1", None, html, "", "eng", "tesseract", None, None,
         {"stroke-width-transform": "1"}),
        ("s2", None, html, "", "eng", "tesseract", None, None,
         {"stroke-width-transform": "0"}),
    ]
    got = _run(spark, rows)
    assert "footer junk" not in got["s1"]["extracted_text"]
    assert "footer junk" in got["s2"]["extracted_text"]


def test_error_rows_never_fail_stage(spark):
    rows = [
        ("e1", None, None, "", "eng", "tesseract", None, None, None),
        ("e2", None, b"", "", "eng", "tesseract", None, None, None),
        ("e3", None, b"\x00\x01\x02", "", "eng", "tesseract", None, None, None),
        ("e4", None,
         b"%PDF-1.5\n1 0 obj\n<< /Filter /DCTDecode /Length 3 >>\n"
         b"stream\n\xff\xd8\xff\nendstream\nendobj\n",
         "", "eng", "tesseract", None, None, None),
    ]
    got = _run(spark, rows)
    assert got["e1"]["status"] == "error:empty"
    assert got["e2"]["status"] == "error:empty"
    assert got["e3"]["status"] == "ok"  # garbage bytes parse to empty text
    assert got["e4"]["status"] == "error:pdf-unsupported"


def test_passthrough_rejects_kernel_output_names(spark):
    import pytest

    from open_ocr_spark.fixtures import pages_df
    from open_ocr_spark.pipeline.stages import extract_stage

    pages = pages_df(spark, 5).withColumn("status", F.lit("x"))
    with pytest.raises(ValueError, match="OUTPUT"):
        extract_stage(pages, passthrough=["status"])


def test_passthrough_names_that_need_quoting(spark):
    # the output schema is built from the input's fields, not from a DDL
    # string of column names, so a name with a space survives and keeps
    # its nullability
    from open_ocr_spark.fixtures import pages_df

    pages = pages_df(spark, 5).withColumn(
        "doc id", F.monotonically_increasing_id()
    )
    out = extract_stage(pages, passthrough=["doc id"])
    assert out.schema["doc id"] == pages.schema["doc id"]
    want = {r["url"]: r["doc id"] for r in pages.collect()}
    assert {r["url"]: r["doc id"] for r in out.collect()} == want


def test_absent_option_columns_read_as_null(spark):
    """Dropped option columns, the same columns present as NULL, and a
    passthrough column beside them all extract the same rows."""
    from open_ocr_spark.fixtures import pages_df

    kernel_out = ["url", "extracted_text", "status", "error", "n_bytes"]
    bare = pages_df(spark, 60).drop(
        "engine", "preprocessors", "preprocessor_args"
    )
    nulls = bare.select(
        "*",
        F.lit(None).cast("string").alias("engine"),
        F.lit(None).cast("array<string>").alias("preprocessors"),
        F.lit(None).cast("map<string,string>").alias("preprocessor_args"),
        F.lit(None).cast("map<string,string>").alias("engine_args"),
        F.lit(None).cast("string").alias("engine_args_json"),
    )
    with_id = bare.withColumn("doc_id", F.xxhash64("url"))

    def rows(df, cols, passthrough=()):
        out = extract_stage(df, passthrough=passthrough).select(*cols)
        return Counter(map(tuple, out.collect()))

    want = rows(bare, kernel_out)
    assert sum(want.values()) == bare.count()
    assert rows(nulls, kernel_out) == want
    assert rows(with_id, kernel_out, ["doc_id"]) == want
    ids = Counter(map(tuple, with_id.select("url", "doc_id").collect()))
    assert rows(with_id, ["url", "doc_id"], ["doc_id"]) == ids


def test_malformed_engine_args_json_is_an_error_row(spark):
    """engine_args_json that is not a JSON object is an error:engine-args
    row, never an exception that fails the task."""
    from open_ocr_spark.pipeline.stages import _extract_row

    bad = ("not json", "[1,2]", "3", "[" * 100_000)
    for value in bad:
        (row,) = _extract_row("u", HTML, "eng", None, None, None, None, value)
        assert row[:3] == ("u", "", "error:engine-args"), value

    rows = [(f"u{i}", HTML, "eng", v) for i, v in enumerate(bad)]
    rows.append(("ok", HTML, "eng", '{"lang": "eng"}'))
    df = spark.createDataFrame(
        rows, "url string, html binary, lang string, engine_args_json string"
    )
    got = {r["url"]: r["status"] for r in extract_stage(df).collect()}
    assert got == {**{f"u{i}": "error:engine-args" for i in range(len(bad))},
                   "ok": "ok"}
