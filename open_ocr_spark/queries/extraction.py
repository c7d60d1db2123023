"""Registry: the engine's own extraction surface (SURVEY.md §2.A) — source
roundtrips, engine dispatch, and every document-format branch (HTML, PDF
incl. CMap, OOXML/ODF/OCF, RTF, glyph OCR) with writer-twin oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from open_ocr_spark.dataops.words import collapse_sql
from open_ocr_spark.pipeline.stages import extract_stage
from open_ocr_spark.queries._shared import (
    _WRAP_PREFIX, _WRAP_SUFFIX, _t, pages_from_documents, twin_payloads,
)

ORACLES: dict[str, str] = {}


def _extract_tail(raw: DataFrame, url_prefix: str) -> DataFrame:
    """``doc_id, payload`` plus any option columns (``engine_args_json``)
    as pages — url from ``url_prefix``, lang eng — run through the REAL
    extraction stage, one row per doc_id."""
    pages = raw.select(
        F.concat(F.lit(url_prefix),
                 F.col("doc_id").cast("string")).alias("url"),
        F.col("payload").alias("html"),
        F.lit("eng").alias("lang"),
        *(c for c in raw.columns if c != "payload"),
    )
    return (
        extract_stage(pages, passthrough=["doc_id"])
        .select("doc_id", "extracted_text", "status")
        .orderBy("doc_id")
    )


def _twin_extract(spark: SparkSession, sf_dir: str, url_prefix: str, build,
                  *cols) -> DataFrame:
    """Writer-twin extraction: ``build(doc_id, *cols)`` over the documents
    table, through the shared tail. Every container-format query uses
    this one shape, so the thing each query varies is exactly the thing
    under test — the payload."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", *cols)
    return _extract_tail(twin_payloads(docs, build), url_prefix)


def q_extract_main_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: wrap every document in nav/footer boilerplate, run the real
    extraction kernel, emit the recovered main text. The oracle is the
    normalization identity: extraction must strip ALL boilerplate and return
    exactly the whitespace-collapsed original text."""
    pages = pages_from_documents(spark, sf_dir)
    return (
        extract_stage(pages, passthrough=["doc_id"])
        .select("doc_id", "extracted_text", "status")
        .orderBy("doc_id")
    )


def q_extract_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = pages_from_documents(spark, sf_dir)
    return (
        extract_stage(pages)
        .groupBy("status")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.length("extracted_text")).alias("total_chars"),
        )
        .orderBy("status")
    )


def q_base64_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 source parity: the inline-base64 ingest path
    (unbase64 = the reference's decodeBase64, ocr_request.go:33-45) must
    round-trip every document byte-exactly."""
    # Sort-early pattern (used by every projection-style query below): put
    # the orderBy on the SCAN and project after. A sort on top of a heavy
    # projection executes the projection twice — the range-partitioner's
    # sampling pass re-runs the sort's child — measured 6× slower on the
    # quality query. Projection preserves sort order, so results are
    # identical.
    docs = _t(spark, sf_dir, "documents").orderBy("doc_id")
    roundtrip = F.decode(
        F.unbase64(F.base64(F.encode(F.col("text"), "utf-8"))), "utf-8"
    )
    return docs.select(
        "doc_id",
        roundtrip.alias("roundtrip_text"),
        roundtrip.eqNullSafe(F.col("text")).alias("matches"),
    )


def q_extract_docx_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOXML conversion through the FULL kernel path (r4,
    kernels/docx_text.py): every document becomes a real .docx — stdlib
    zip container, [Content_Types].xml + word/document.xml — whose two
    paragraphs carry the document text and a tab + XML-entity line
    ('<' and '&' escaped in the package, decoded on extraction);
    magic-byte routing must pick the DOCX branch and return the text
    byte-exactly.  A zip-walk, run-concatenation, w:tab/w:br or
    entity-decode bug changes extracted_text and breaks the hash."""
    def build(i: int, text) -> bytes:
        from open_ocr_spark.kernels.docx_text import build_docx

        return build_docx([
            text if text is not None else "",
            f"Doc {i}\t<tagged & checked>",
        ])

    return _twin_extract(spark, sf_dir, "https://docs.example.com/docx/",
                         build, "text")


def q_extract_xlsx_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SpreadsheetML conversion through the FULL kernel path (r4,
    kernels/docx_text.py xlsx sibling — completes the OOXML trio):
    every document becomes a real two-sheet .xlsx whose string cells go
    through a deduplicated sharedStrings table (the indirection real
    Excel files use) and whose numeric cells are literal <v> values;
    magic-byte routing must distinguish the workbook from the other
    office zips and return tab/newline/blank-line flat text
    byte-exactly."""
    def build(i: int, text) -> bytes:
        from open_ocr_spark.kernels.docx_text import build_xlsx

        t = text if text is not None else ""
        return build_xlsx([
            [["Doc", str(i)], [t], ["<cells & rows>", "", "-3.5"]],
            [["Doc", "total"], [str(i), str(i)]],
        ])

    return _twin_extract(spark, sf_dir, "https://docs.example.com/xlsx/",
                         build, "text")


def q_extract_glyph_ocr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's literal image→text contract in the pixel domain
    (r4, kernels/glyph_ocr.py): every document's text is rasterized
    into a REAL PNG with the deterministic 5×7 glyph font (the writer
    twin, via the repo's own PNG encoder), the payload routes through
    the extraction kernel's image branch by magic bytes, and template-
    matching OCR over the decoded pixels must recover the text exactly.
    The oracle is the font-normalization transform (upper, drop
    unsupported glyphs, 96-glyph line, trailing-pad strip)."""
    def build(i: int, clean) -> bytes:
        from open_ocr_spark.kernels.glyph_ocr import render_text_png

        return render_text_png(clean)

    clean = F.rtrim(
        F.substring(
            F.regexp_replace(
                F.upper(F.coalesce(F.col("text"), F.lit(""))),
                r"[^A-Z0-9 .,'&-]",
                "",
            ),
            1,
            96,
        )
    )
    return _twin_extract(spark, sf_dir, "https://docs.example.com/scan/",
                         build, clean.alias("clean"))


def q_extract_epub_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPUB conversion through the FULL kernel path (r4, the OCF/OPF
    e-book branch): every document becomes a real two-chapter .epub —
    both chapters are boilerplate-wrapped XHTML, the manifest enumerates
    them REVERSED while the spine holds reading order, so only a
    spine-order reader roundtrips; each chapter runs through the
    engine's own HTML boilerplate-strip kernel, so the oracle is the
    same normalization identity extract_main_text uses, per chapter."""
    def build(i: int, text) -> bytes:
        from open_ocr_spark.kernels.docx_text import build_epub

        t = text if text is not None else ""
        ch1 = (_WRAP_PREFIX + t + _WRAP_SUFFIX).encode("utf-8")
        ch2 = (
            _WRAP_PREFIX
            + f"Chapter {i} of the epub & appendix"
            + _WRAP_SUFFIX
        ).encode("utf-8")
        return build_epub([ch1, ch2])

    return _twin_extract(spark, sf_dir, "https://docs.example.com/epub/",
                         build, "text")


def q_extract_pptx_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PresentationML conversion through the FULL kernel path (r4,
    kernels/docx_text.py pptx sibling): every document becomes a real
    two-slide .pptx — slide 1 carries the document text, slide 2 two
    paragraphs with an a:br line break and XML entities; magic-byte
    routing must distinguish the deck from DOCX/ODT zips and return all
    slides' text in numeric slide order, byte-exactly."""
    def build(i: int, text) -> bytes:
        from open_ocr_spark.kernels.docx_text import build_pptx

        return build_pptx([
            [text if text is not None else ""],
            [f"Slide {i}", "<deck & notes>\nend"],
        ])

    return _twin_extract(spark, sf_dir, "https://docs.example.com/pptx/",
                         build, "text")


def q_extract_odt_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ODF conversion through the FULL kernel path (r4, the
    OpenDocument sibling of the DOCX branch): every document becomes a
    real .odt — mimetype member (STORED first, per spec) + content.xml
    — whose paragraphs carry the document text and a
    run-length-space + entity line; magic-byte routing must
    disambiguate ODT from DOCX inside the shared PK branch and return
    the text byte-exactly."""
    def build(i: int, text) -> bytes:
        from open_ocr_spark.kernels.docx_text import build_odt

        return build_odt([
            text if text is not None else "",
            f"Odt {i}\t<open & doc>",
        ])

    return _twin_extract(spark, sf_dir, "https://docs.example.com/odt/",
                         build, "text")


def q_extract_rtf_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RTF conversion through the FULL kernel path (r4,
    kernels/rtf_text.py — the third office sibling after DOCX/ODT):
    every document becomes a real .rtf via the writer twin — header with
    fonttbl/colortbl/ignorable-generator destinations that must be
    skipped, body with \\uN? Unicode escapes, \\tab, and \\par between
    paragraphs; magic-byte routing must pick the RTF branch and return
    the text byte-exactly.  A tokenizer, destination-skip, \\uc
    fallback, or \\par-convention bug changes extracted_text and breaks
    the hash."""
    def build(i: int, text) -> bytes:
        from open_ocr_spark.kernels.rtf_text import build_rtf

        return build_rtf([
            text if text is not None else "",
            f"Rtf {i}\t«rich & text»",
        ])

    return _twin_extract(spark, sf_dir, "https://docs.example.com/rtf/",
                         build, "text")


def q_extract_pdf_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 parity, oracle-checked end-to-end: every document is wrapped as a
    minimal uncompressed PDF (one literal-string Tj text-show op, escapes
    applied in pure Catalyst), routed by magic bytes through the PDF
    branch of the kernel, and must come back byte-exact."""
    docs = _t(spark, sf_dir, "documents")
    esc = F.col("text")
    for find, repl in (("\\", "\\\\"), ("(", "\\("), (")", "\\)")):
        esc = F.replace(esc, F.lit(find), F.lit(repl))
    raw = docs.select(
        "doc_id",
        F.encode(
            F.concat(
                F.lit("%PDF-1.4\nBT\n("),
                F.coalesce(esc, F.lit("")),
                F.lit(") Tj\nET\n%%EOF\n"),
            ),
            "utf-8",
        ).alias("payload"),
    )
    return _extract_tail(raw, "https://docs.example.com/pdf/")


def q_url_fetch_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 parity, oracle-checked end-to-end: every document becomes a
    self-contained RFC 2397 ``data:`` URL (base64 of the boilerplate-
    wrapped page, encoded in pure Catalyst), resolved by the fetch stage
    (sources.fetch_url_payloads — the url2bytes recast,
    /root/reference/ocr_util.go:35-51), extracted, and must round-trip to
    the normalized text."""
    from open_ocr_spark.sources import fetch_url_payloads

    docs = _t(spark, sf_dir, "documents")
    reqs = docs.select(
        F.concat(
            F.lit("data:text/html;base64,"),
            F.base64(
                F.encode(
                    F.concat(
                        F.lit(_WRAP_PREFIX),
                        F.coalesce(F.col("text"), F.lit("")),
                        F.lit(_WRAP_SUFFIX),
                    ),
                    "utf-8",
                )
            ),
        ).alias("url"),
        "doc_id",
    )
    fetched = fetch_url_payloads(reqs).withColumn("lang", F.lit("eng"))
    extracted = extract_stage(
        fetched.filter(F.col("fetch_error").isNull()), passthrough=["doc_id"]
    )
    return (
        extracted.select("doc_id", "extracted_text", "status")
        .orderBy("doc_id")
    )


def q_multipart_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 parity, oracle-checked end-to-end: every document is packed into
    a multipart/related request body (JSON part with url/engine + image
    part with the boilerplate-wrapped page — body assembled in pure
    Catalyst concat), parsed by the stdlib-MIME ingestion kernel
    (sources.requests_from_multipart), extracted, and must round-trip to
    the normalized text (/root/reference/ocr_http_multipart_handler.go:26-88)."""
    from open_ocr_spark.sources import requests_from_multipart

    docs = _t(spark, sf_dir, "documents")
    boundary = "graftbnd"
    json_part = F.concat(
        F.lit(f'--{boundary}\r\nContent-Type: application/json\r\n\r\n'
              '{"img_url": "https://docs.example.com/doc/'),
        F.col("doc_id").cast("string"),
        F.lit('", "engine": "tesseract"}\r\n'),
    )
    img_part_head = F.lit(
        f"--{boundary}\r\nContent-Type: image/png\r\n\r\n"
    )
    body = F.concat(
        F.encode(F.concat(json_part, img_part_head), "utf-8"),
        F.encode(
            F.concat(
                F.lit(_WRAP_PREFIX),
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(_WRAP_SUFFIX),
            ),
            "utf-8",
        ),
        F.encode(F.lit(f"\r\n--{boundary}--\r\n"), "utf-8"),
    )
    reqs = docs.select(
        body.alias("body"),
        F.lit(f'multipart/related; boundary="{boundary}"').alias(
            "content_type"
        ),
    )
    parsed = requests_from_multipart(reqs).withColumn(
        "lang", F.coalesce(F.col("lang"), F.lit("eng"))
    )
    extracted = extract_stage(parsed.filter(F.col("error").isNull()))
    return (
        extracted.select(
            F.regexp_extract(F.col("url"), r"/doc/(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            "extracted_text",
            "status",
        )
        .orderBy("doc_id")
    )


def q_extract_pdf_flate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 parity for real-world (compressed) PDFs, oracle-checked: every
    document becomes a PDF whose content stream is zlib-deflated behind
    /Filter /FlateDecode — the form Ghostscript handles for the reference
    (/root/reference/convert-pdf.go:51-62) — and every ODD doc_id
    additionally armors the deflated bytes in ASCII85, declaring the
    [/ASCII85Decode /FlateDecode] FILTER CHAIN, so chain decoding is
    driver-value-checked, not just unit-tested. The wrap is a writer
    twin (fixture construction only; the measured kernel is the unwrap);
    the kernel decodes with stdlib zlib/base64 and must return the text
    byte-exact."""
    def build(i: int, t) -> bytes:
        import base64
        import zlib

        s = (t or "").replace("\\", "\\\\")
        s = s.replace("(", "\\(").replace(")", "\\)")
        body = zlib.compress(("BT\n(" + s + ") Tj\nET\n").encode("utf-8"))
        if i % 2 == 1:
            body = base64.a85encode(body) + b"~>"
            filt = b"[/ASCII85Decode /FlateDecode]"
        else:
            filt = b"/FlateDecode"
        return (
            b"%PDF-1.5\n1 0 obj\n<< /Filter " + filt + b" /Length "
            + str(len(body)).encode()
            + b" >>\nstream\n"
            + body
            + b"\nendstream\nendobj\n%%EOF\n"
        )

    return _twin_extract(spark, sf_dir, "https://docs.example.com/pdfz/",
                         build, "text")


def q_extract_pdf_cmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 depth for how real-world PDFs actually store text (r5, VERDICT
    r4 item 4): every document becomes a COMPOSITE-FONT PDF whose show
    string carries per-document font codes (assigned by first appearance,
    so a byte-fallback read is mojibake) resolved through an embedded
    ToUnicode CMap — bfchar pairs, array-destination bfrange, an
    incrementing hex bfrange and a multi-code-unit ligature destination
    all on the value path, content stream FlateDecode'd
    (kernels/pdf_text.py render_pdf_cmap, the writer twin). The kernel
    must map codes back to Unicode byte-exactly: text + 'abc<<>>'."""
    def build(i: int, t) -> bytes:
        from open_ocr_spark.kernels.pdf_text import render_pdf_cmap

        return render_pdf_cmap(t or "")

    return _twin_extract(spark, sf_dir, "https://docs.example.com/pdfcmap/",
                         build, "text")


def q_extract_pdf_tj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 parity for the text-show forms real PDF generators emit
    (/root/reference/convert-pdf.go:51-62 ingests them via Ghostscript):
    a kerned ``[(..) -120 (..)] TJ`` array (the dominant form in the wild),
    a hex-string ``<...> Tj``, and the ``aw ac (..) \"`` operator. The page
    is assembled in pure Catalyst: the document text is split in half
    BEFORE escaping (so an escape sequence can never straddle the array
    elements), each half becomes one TJ array element, and the kernel must
    concatenate them back byte-exact; line 2 is hex-encoded, line 3 uses
    the quote operator."""
    docs = _t(spark, sf_dir, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))
    half = (F.length(txt) / 2).cast("int")
    parts = [
        F.substring(txt, 1, half),
        txt.substr(half + 1, F.length(txt)),
    ]
    for j, p in enumerate(parts):
        for find, repl in (("\\", "\\\\"), ("(", "\\("), (")", "\\)")):
            p = F.replace(p, F.lit(find), F.lit(repl))
        parts[j] = p
    hex_line = F.hex(
        F.encode(
            F.concat(F.lit("Doc "), F.col("doc_id").cast("string")), "utf-8"
        )
    )
    raw = docs.select(
        "doc_id",
        F.encode(
            F.concat(
                F.lit("%PDF-1.4\nBT\n[("),
                parts[0],
                F.lit(") -120 ("),
                parts[1],
                F.lit(")] TJ\n<"),
                hex_line,
                F.lit("> Tj\n2 0.5 (END) \"\nET\n%%EOF\n"),
            ),
            "utf-8",
        ).alias("payload"),
    )
    return _extract_tail(raw, "https://docs.example.com/pdftj/")


def q_extract_structured_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10/A11 hOCR-recast parity, oracle-checked: run the kernel in
    structured-output mode (engine_args.config_vars.tessedit_create_hocr,
    tesseract_engine_test.go:50), then PARSE the span JSON back to rows so
    the oracle checks ids/offsets/text as values, not as a JSON string.

    The fixture is RAGGED (VERDICT r2 item 8): doc_id % 3 selects 0, 1 or
    2 appendix paragraphs after the original text, every appendix is
    preceded by a literally-empty ``<p></p>`` (exercising the
    empty-paragraph drop mid-document), and documents with empty text
    exercise the leading-empty edge — so span ids and running offsets are
    stressed unevenly (1–3 spans per doc, shifted starts), not as one
    fixed shape."""
    docs = _t(spark, sf_dir, "documents")
    a1 = F.concat(
        F.lit("Appendix section for document "),
        F.col("doc_id").cast("string"),
        F.lit(" - closing remarks."),
    )
    a2 = F.concat(
        F.lit("Second appendix for document "),
        F.col("doc_id").cast("string"),
        F.lit("."),
    )
    k = F.pmod(F.col("doc_id"), F.lit(3))
    body = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(k >= 1, F.concat(F.lit("</p><p></p><p>"), a1)).otherwise(
            F.lit("")
        ),
        F.when(k == 2, F.concat(F.lit("</p><p></p><p>"), a2)).otherwise(
            F.lit("")
        ),
    )
    pages = docs.select(
        F.concat(F.lit("https://docs.example.com/doc/"), F.col("doc_id")).alias(
            "url"
        ),
        F.encode(
            F.concat(F.lit(_WRAP_PREFIX), body, F.lit(_WRAP_SUFFIX)),
            "utf-8",
        ).alias("html"),
        F.lit("eng").alias("lang"),
        F.col("doc_id"),
    ).withColumn(
        "engine_args_json",
        F.lit('{"config_vars": {"tessedit_create_hocr": "1"}}'),
    )
    extracted = extract_stage(pages, passthrough=["doc_id"])
    return (
        extracted.select(
            "doc_id",
            F.explode(
                F.from_json(
                    F.col("extracted_text"),
                    "struct<spans: array<struct<id:int,start:int,end:int,text:string>>>",
                )["spans"]
            ).alias("span"),
        )
        .select(
            "doc_id",
            F.col("span.id").alias("span_id"),
            F.col("span.start").alias("start"),
            F.col("span.end").alias("end"),
            F.col("span.text").alias("span_text"),
        )
        .orderBy("doc_id", "span_id")
    )


def q_extract_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The "md" output format (r5, kernels/html_markdown.py): the engine's
    output_format config var extended past the reference's ["txt","hocr"]
    list (tesseract_engine.go:194-262) with structure-preserving markdown.
    The fixture page exercises every frozen-policy block and inline form —
    h1/h2, emphasis+link paragraph, bullet list with a link item,
    blockquote, fenced code, hr, pipe table — and the oracle is the writer
    twin: it reassembles the exact markdown from the same documents
    columns, so heading levels, list markers, quote prefixes, fences and
    the table separator row all value-hash."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    body = F.concat(
        F.lit("<h1>Doc "), did, F.lit("</h1><p>"),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" with <strong>bold</strong> and <em>emphasis</em> and a "
              '<a href="https://example.com/ref/'), did,
        F.lit('">link '), did, F.lit("</a>.</p>"),
        F.lit("<h2>Details</h2><ul><li>lang "), F.col("lang"),
        F.lit("</li><li>source "), F.col("source"),
        F.lit('</li><li><a href="https://example.com/src/'),
        F.col("source"), F.lit('">origin</a></li></ul>'),
        F.lit("<blockquote><p>Quoted summary "),
        F.col("n_chars").cast("string"),
        F.lit(" chars.</p></blockquote>"),
        F.lit("<pre><code>doc_id = "), did, F.lit("</code></pre><hr>"),
        F.lit("<table><tr><th>key</th><th>value</th></tr>"
              "<tr><td>id</td><td>"), did,
        F.lit("</td></tr></table>"),
    )
    pages = docs.select(
        F.concat(F.lit("https://docs.example.com/doc/"), F.col("doc_id")).alias(
            "url"
        ),
        F.encode(
            F.concat(
                F.lit('<html><head><script>q()</script></head><body>'
                      '<nav><ul><li><a href="/">Home</a></li></ul></nav>'
                      "<article>"),
                body,
                F.lit("</article><footer><p>(c) footer</p></footer>"
                      "</body></html>"),
            ),
            "utf-8",
        ).alias("html"),
        F.lit("eng").alias("lang"),
        F.col("doc_id"),
    ).withColumn(
        "engine_args_json",
        F.lit('{"config_vars": {"output_format": "md"}}'),
    )
    return (
        extract_stage(pages, passthrough=["doc_id"])
        .select(
            "doc_id",
            F.col("extracted_text").alias("markdown"),
            "status",
        )
        .orderBy("doc_id")
    )


def q_engine_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12/A13 parity, oracle-checked: a per-row `engine` column routes
    each document through the kernel dispatch — every 10th doc uses the
    mock engine (the reference's verbatim constant, mock_engine.go:3-10),
    the rest the real extractor. The oracle reproduces both branches in
    SQL, so the dispatch itself is value-checked by the driver."""
    pages = pages_from_documents(spark, sf_dir).withColumn(
        "engine",
        F.when(F.col("doc_id") % 10 == 0, F.lit("mock")).otherwise(
            F.lit("tesseract")
        ),
    )
    return (
        extract_stage(pages, passthrough=["doc_id"])
        .select("doc_id", "extracted_text", "status")
        .orderBy("doc_id")
    )


ORACLES["extract_markdown"] = f"""
        WITH src AS (
            SELECT *,
                   coalesce(text, '')
                   || ' with **bold** and *emphasis* and a [link '
                   || doc_id::VARCHAR || '](https://example.com/ref/'
                   || doc_id::VARCHAR || ').' AS body
            FROM documents
        )
        SELECT doc_id,
               '# Doc ' || doc_id::VARCHAR
               || chr(10) || chr(10)
               || {collapse_sql("body")}
               || chr(10) || chr(10) || '## Details'
               || chr(10) || chr(10)
               || '- lang ' || lang || chr(10)
               || '- source ' || source || chr(10)
               || '- [origin](https://example.com/src/' || source || ')'
               || chr(10) || chr(10)
               || '> Quoted summary ' || n_chars::VARCHAR || ' chars.'
               || chr(10) || chr(10)
               || '```' || chr(10) || 'doc_id = ' || doc_id::VARCHAR
               || chr(10) || '```'
               || chr(10) || chr(10) || '---'
               || chr(10) || chr(10)
               || '| key | value |' || chr(10) || '| --- | --- |'
               || chr(10) || '| id | ' || doc_id::VARCHAR || ' |'
                   AS markdown,
               'ok' AS status
        FROM src
        ORDER BY doc_id
    """


ORACLES["extract_main_text"] = f"""
        SELECT doc_id,
               {collapse_sql("coalesce(text, '')")} AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


ORACLES["extract_status_rollup"] = f"""
        SELECT 'ok' AS status,
               count(*) AS docs,
               CAST(sum(length({collapse_sql("coalesce(text, '')")}))
                    AS BIGINT) AS total_chars
        FROM documents
    """


ORACLES["base64_roundtrip"] = """
        SELECT doc_id, text AS roundtrip_text, TRUE AS matches
        FROM documents
        ORDER BY doc_id
    """


ORACLES["extract_docx_text"] = """
        SELECT doc_id,
               coalesce(text, '') || chr(10) || chr(10)
                   || 'Doc ' || doc_id::VARCHAR || chr(9)
                   || '<tagged & checked>' AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


ORACLES["extract_odt_text"] = """
        SELECT doc_id,
               coalesce(text, '') || chr(10) || chr(10)
                   || 'Odt ' || doc_id::VARCHAR || chr(9)
                   || '<open & doc>' AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


ORACLES["extract_glyph_ocr"] = """
        SELECT doc_id,
               rtrim(substring(regexp_replace(upper(coalesce(text, '')),
                                              '[^A-Z0-9 .,''&-]', '', 'g'),
                               1, 96), ' ') AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


ORACLES["extract_epub_text"] = f"""
        SELECT doc_id,
               {collapse_sql("coalesce(text, '')")}
                   || chr(10) || chr(10) || 'Chapter ' || doc_id::VARCHAR
                   || ' of the epub & appendix' AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


ORACLES["extract_xlsx_text"] = """
        SELECT doc_id,
               'Doc' || chr(9) || doc_id::VARCHAR || chr(10)
                   || coalesce(text, '') || chr(10)
                   || '<cells & rows>' || chr(9) || chr(9) || '-3.5'
                   || chr(10) || chr(10)
                   || 'Doc' || chr(9) || 'total' || chr(10)
                   || doc_id::VARCHAR || chr(9) || doc_id::VARCHAR
                   AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


ORACLES["extract_pptx_text"] = """
        SELECT doc_id,
               coalesce(text, '') || chr(10) || chr(10)
                   || 'Slide ' || doc_id::VARCHAR || chr(10) || chr(10)
                   || '<deck & notes>' || chr(10) || 'end'
                   AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


ORACLES["extract_rtf_text"] = """
        SELECT doc_id,
               coalesce(text, '') || chr(10) || chr(10)
                   || 'Rtf ' || doc_id::VARCHAR || chr(9)
                   || '«rich & text»' AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


ORACLES["extract_pdf_text"] = """
        SELECT doc_id, coalesce(text, '') AS extracted_text, 'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


ORACLES["extract_pdf_flate"] = """
        SELECT doc_id, coalesce(text, '') AS extracted_text, 'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


ORACLES["extract_pdf_cmap"] = """
        SELECT doc_id, coalesce(text, '') || 'abc<<>>' AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


ORACLES["extract_pdf_tj"] = """
        SELECT doc_id,
               coalesce(text, '') || chr(10) || 'Doc ' || doc_id
                   || chr(10) || 'END' AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


ORACLES["multipart_roundtrip"] = f"""
        SELECT doc_id,
               {collapse_sql("coalesce(text, '')")} AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


ORACLES["url_fetch_roundtrip"] = f"""
        SELECT doc_id,
               {collapse_sql("coalesce(text, '')")} AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


ORACLES["extract_structured_spans"] = f"""
        WITH norm AS (
            SELECT doc_id,
                   {collapse_sql("coalesce(text, '')")} AS t,
                   'Appendix section for document ' || doc_id
                       || ' - closing remarks.' AS a1,
                   'Second appendix for document ' || doc_id || '.' AS a2,
                   doc_id % 3 AS k
            FROM documents
        ),
        base AS (
            SELECT *,
                   CASE WHEN length(t) > 0 THEN 1 ELSE 0 END AS has_t,
                   CASE WHEN length(t) > 0 THEN length(t) + 2 ELSE 0 END
                       AS off1
            FROM norm
        )
        SELECT doc_id, span_id, "start", "end", span_text FROM (
            SELECT doc_id, 0 AS span_id, 0 AS "start",
                   length(t) AS "end", t AS span_text
            FROM base WHERE has_t = 1
            UNION ALL
            SELECT doc_id, has_t AS span_id, off1 AS "start",
                   off1 + length(a1) AS "end", a1 AS span_text
            FROM base WHERE k >= 1
            UNION ALL
            SELECT doc_id, has_t + 1 AS span_id,
                   off1 + length(a1) + 2 AS "start",
                   off1 + length(a1) + 2 + length(a2) AS "end",
                   a2 AS span_text
            FROM base WHERE k = 2
        )
        ORDER BY doc_id, span_id
    """


ORACLES["engine_dispatch"] = f"""
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 0 THEN 'mock engine decoder response'
                    ELSE {collapse_sql("coalesce(text, '')")}
               END AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


def q_charset_transport(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transport-layer charset override (r5, options.py charset_override
    + dispatch._apply_charset): every fixture page is windows-1252 BYTES
    (Café {d} façade — 0xE9/0xE7 are invalid UTF-8) with no BOM and no
    meta declaration.  A third of the rows carry the HTTP header's
    charset as the ``charset`` config var spelled ISO-8859-1 (the WHATWG
    label class must normalize it to cp1252) and must extract the
    accented text intact; a third carry an unknown label (x-weird) and a
    third carry none — both of those fall to the BOM/meta sniff, whose
    utf-8 errors=replace turns each accented byte into U+FFFD.  The
    oracle states all three outcomes closed-form."""
    def build(i: int) -> bytes:
        html = f"<html><body><p>Café {i} façade</p></body></html>"
        return html.encode("cp1252")

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    raw = twin_payloads(docs, build).withColumn(
        "engine_args_json",
        F.when(
            d % 3 == 0,
            F.lit('{"config_vars": {"charset": "ISO-8859-1"}}'),
        )
        .when(d % 3 == 1, F.lit('{"config_vars": {"charset": "x-weird"}}'))
        .otherwise(F.lit("{}")),
    )
    return _extract_tail(raw, "https://cs.example.com/p/")


ORACLES["charset_transport"] = """
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN 'Café ' || doc_id::VARCHAR || ' façade'
                    ELSE 'Caf' || chr(65533) || ' ' || doc_id::VARCHAR
                         || ' fa' || chr(65533) || 'ade'
               END AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


def q_extract_doc_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word 97-2003 binary extraction (r5, kernels/doc_text.py): each
    document becomes a REAL .doc — CFB container with FAT, directory,
    mini FAT and mini stream, a Word FIB, and a two-piece piece table
    whose first piece is compressed cp1252 and second UTF-16LE (with a
    character cp1252 cannot hold, so a wrong fCompressed read cannot
    pass).  The which-table FIB bit alternates per row (0Table/1Table
    both exercised).  Routed by CFB magic through the standard engine
    dispatch; closed-form oracle."""
    def build(i: int) -> bytes:
        from open_ocr_spark.kernels.doc_text import build_doc

        return build_doc(
            [
                (f"Doc {i} café intro.\r", True),
                (f"Pièce № {i % 7} finale.\r", False),
            ],
            which_table=i % 2,
        )

    return _twin_extract(spark, sf_dir, "https://docs.example.com/w/", build)


ORACLES["extract_doc_text"] = """
        SELECT doc_id,
               'Doc ' || doc_id::VARCHAR || ' café intro.' || chr(10)
               || 'Pièce № ' || (doc_id % 7)::VARCHAR || ' finale.'
               || chr(10) AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


def q_extract_ppt_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PowerPoint 97-2003 binary extraction (r5, kernels/doc_text.py
    extract_ppt_text): real CFB + record-tree walk; each fixture deck
    nests one cp1252 TextBytesAtom and one UTF-16 TextCharsAtom (holding
    a non-cp1252 character) inside a Document container.  Routed by CFB
    magic + directory through the standard dispatch."""
    def build(i: int) -> bytes:
        from open_ocr_spark.kernels.doc_text import build_ppt

        return build_ppt(
            [
                (f"Slide {i} café title", False),
                (f"Body № {i % 9} text", True),
            ]
        )

    return _twin_extract(spark, sf_dir, "https://docs.example.com/s/", build)


ORACLES["extract_ppt_text"] = """
        SELECT doc_id,
               'Slide ' || doc_id::VARCHAR || ' café title' || chr(10)
               || 'Body № ' || (doc_id % 9)::VARCHAR || ' text'
               || chr(10) AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


def q_extract_xls_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excel 97-2003 binary extraction (r5, kernels/doc_text.py
    extract_xls_text): real CFB + BIFF8 record scan; the SST carries a
    rich-run-annotated latin string (the skip arithmetic must be exact),
    a UTF-16 string with a non-cp1252 character, and a plain tail.
    Routed by CFB magic + directory through the standard dispatch."""
    def build(i: int) -> bytes:
        from open_ocr_spark.kernels.doc_text import build_xls

        return build_xls(
            [
                (f"Cell {i} café", False),
                (f"Wide № {i % 5}", True),
                (f"tail {i % 3}", False),
            ]
        )

    return _twin_extract(spark, sf_dir, "https://docs.example.com/x/", build)


ORACLES["extract_xls_text"] = """
        SELECT doc_id,
               'Cell ' || doc_id::VARCHAR || ' café' || chr(10)
               || 'Wide № ' || (doc_id % 5)::VARCHAR || chr(10)
               || 'tail ' || (doc_id % 3)::VARCHAR
               || chr(10) AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


def q_extract_msg_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlook .msg extraction (r5, kernels/doc_text.py
    extract_msg_text): real CFB property streams — even doc_ids store
    UTF-16 (001F) subject/body with a non-cp1252 character, odd ones the
    8-bit 001E form — and the frozen subject/blank/body contract routes
    through the standard CFB dispatch."""
    def build(i: int) -> bytes:
        from open_ocr_spark.kernels.doc_text import build_msg

        wide = i % 2 == 0
        mark = "№" if wide else "No"
        return build_msg(
            f"Re: item {mark} {i % 11}",
            f"Body for doc {i} café.\rSecond line.",
            wide=wide,
        )

    return _twin_extract(spark, sf_dir, "https://docs.example.com/m/", build)


ORACLES["extract_msg_text"] = """
        SELECT doc_id,
               'Re: item '
               || CASE WHEN doc_id % 2 = 0 THEN '№' ELSE 'No' END
               || ' ' || (doc_id % 11)::VARCHAR || chr(10) || chr(10)
               || 'Body for doc ' || doc_id::VARCHAR || ' café.'
               || chr(10) || 'Second line.' || chr(10) AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


def q_extract_eml_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 5322 / MIME e-mail extraction (r5, kernels/eml_text.py): the
    SAME expected text rides four wire encodings by doc_id % 4 — plain
    utf-8, quoted-printable windows-1252 with an RFC 2047 Q subject,
    base64 utf-8 with a B subject, and multipart/alternative where the
    text/plain part must win over the HTML rendering — so one closed-form
    oracle checks every decode path at once."""
    def build(i: int) -> bytes:
        from open_ocr_spark.kernels.eml_text import build_eml

        return build_eml(
            f"Re: café item {i % 7}",
            f"Body line one for {i} café.\nSecond line — dash.",
            variant=i % 4,
        )

    return _twin_extract(spark, sf_dir, "https://mail.example.com/m/", build)


ORACLES["extract_eml_text"] = """
        SELECT doc_id,
               'Re: café item ' || (doc_id % 7)::VARCHAR
               || chr(10) || chr(10)
               || 'Body line one for ' || doc_id::VARCHAR || ' café.'
               || chr(10) || 'Second line — dash.'
               || chr(10) AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


def q_extract_mbox_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unix mbox archive extraction (r5, kernels/eml_text.py
    extract_mbox_text): three messages per document, each on a different
    MIME wire variant, with a body line starting "From " so the mboxrd
    >From-quoting round-trip is exercised on every row."""
    def build(i: int) -> bytes:
        from open_ocr_spark.kernels.eml_text import build_mbox

        return build_mbox([
            (
                f"Msg {j} of {i % 5}",
                f"Mbox body {i} part {j} café.\n"
                "From here the quoting must survive.",
                (i + j) % 4,
            )
            for j in range(3)
        ])

    return _twin_extract(spark, sf_dir, "https://mail.example.com/box/", build)


ORACLES["extract_mbox_text"] = """
        WITH msg AS (
            SELECT d.doc_id, j.j,
                   'Msg ' || j.j::VARCHAR || ' of '
                   || (d.doc_id % 5)::VARCHAR
                   || chr(10) || chr(10)
                   || 'Mbox body ' || d.doc_id::VARCHAR || ' part '
                   || j.j::VARCHAR || ' café.' || chr(10)
                   || 'From here the quoting must survive.'
                   || chr(10) AS t
            FROM documents d, (SELECT unnest([0, 1, 2]) AS j) j
        )
        SELECT doc_id,
               string_agg(t, chr(10) ORDER BY j) AS extracted_text,
               'ok' AS status
        FROM msg
        GROUP BY doc_id
        ORDER BY doc_id
    """


def q_extract_tar_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tar archive extraction (r5, kernels/archive.py): three members per
    document — an HTML page, an .eml on a rotating wire variant, and a
    plain-text file — written by the INDEPENDENT stdlib tarfile writer;
    each member routes back through the normal dispatch and the archive
    text is the member texts joined in archive order."""
    def build(i: int) -> bytes:
        from open_ocr_spark.kernels.archive import build_tar
        from open_ocr_spark.kernels.eml_text import build_eml

        return build_tar([
            ("site/page.html",
             f"<html><body><p>Tar member html {i} café.</p>"
             "</body></html>".encode()),
            ("mail/m.eml",
             build_eml(f"Tar msg {i % 7}", f"Tar body {i}.", variant=i % 4)),
            ("notes/plain.txt", f"Plain member {i} text.".encode()),
        ])

    return _twin_extract(spark, sf_dir, "https://archive.example.com/t/", build)


ORACLES["extract_tar_text"] = """
        SELECT doc_id,
               'Tar member html ' || doc_id::VARCHAR || ' café.'
               || chr(10)
               || 'Tar msg ' || (doc_id % 7)::VARCHAR
               || chr(10) || chr(10)
               || 'Tar body ' || doc_id::VARCHAR || '.' || chr(10)
               || chr(10)
               || 'Plain member ' || doc_id::VARCHAR || ' text.'
               AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


def q_extract_gzip_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone-gzip routing (r5, kernels/archive.py gunzip_payload):
    even doc_ids are page.html.gz, odd ones corpus.tar.gz with two
    members — the decompress-then-redispatch composition in one oracle."""
    def build(i: int) -> bytes:
        import gzip

        from open_ocr_spark.kernels.archive import build_tar

        html = (f"<html><body><p>Gz page {i} café.</p>"
                "</body></html>").encode()
        if i % 2 == 0:
            return gzip.compress(html, mtime=0)
        return gzip.compress(
            build_tar([("a.html", html),
                       ("b.txt", f"Plain {i}.".encode())]),
            mtime=0,
        )

    return _twin_extract(spark, sf_dir, "https://files.example.com/gz/", build)


ORACLES["extract_gzip_text"] = """
        SELECT doc_id,
               'Gz page ' || doc_id::VARCHAR || ' café.'
               || CASE WHEN doc_id % 2 = 1
                       THEN chr(10) || 'Plain ' || doc_id::VARCHAR || '.'
                       ELSE '' END AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


def q_extract_zip_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic zip archives (r5, kernels/archive.py split_zip): a zip
    that is NOT an Office/EPUB container routes its members through the
    dispatch like tar members — HTML + .eml + plain text per doc."""
    def build(i: int) -> bytes:
        from open_ocr_spark.kernels.archive import build_zip
        from open_ocr_spark.kernels.eml_text import build_eml

        return build_zip([
            ("site/page.html",
             f"<html><body><p>Zip member html {i} café.</p>"
             "</body></html>".encode()),
            ("mail/m.eml",
             build_eml(f"Zip msg {i % 7}", f"Zip body {i}.", variant=i % 4)),
            ("notes/plain.txt", f"Plain zip member {i} text.".encode()),
        ])

    return _twin_extract(spark, sf_dir, "https://files.example.com/z/", build)


ORACLES["extract_zip_text"] = """
        SELECT doc_id,
               'Zip member html ' || doc_id::VARCHAR || ' café.'
               || chr(10)
               || 'Zip msg ' || (doc_id % 7)::VARCHAR
               || chr(10) || chr(10)
               || 'Zip body ' || doc_id::VARCHAR || '.' || chr(10)
               || chr(10)
               || 'Plain zip member ' || doc_id::VARCHAR || ' text.'
               AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


def q_csv_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 4180 CSV payload parsing (r5, kernels/csv_text.py): each doc
    is a 2x3 grid written by the stdlib csv writer twin carrying a
    quoted comma, escaped quotes, an embedded newline, and an empty
    field — the closed-form oracle pins every grammar rule."""
    def build(i: int) -> bytes:
        from open_ocr_spark.kernels.csv_text import build_csv

        return build_csv([
            [f"v {i}", f"a,b {i % 5}", f'He said "hi" {i % 3}'],
            [f"line1\nline2 {i}", "", f"tail {i % 7}"],
        ])

    from open_ocr_spark.kernels.csv_text import csv_cells

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    raw = twin_payloads(docs, build)
    return (
        csv_cells(raw, payload_col="payload")
        .orderBy("doc_id", "row_idx", "col_idx")
    )


ORACLES["csv_cells"] = """
        WITH cell AS (
            SELECT * FROM (VALUES
                (0, 0), (0, 1), (0, 2), (1, 0), (1, 1), (1, 2)
            ) AS t(row_idx, col_idx)
        )
        SELECT d.doc_id,
               cell.row_idx,
               cell.col_idx,
               CASE cell.row_idx * 3 + cell.col_idx
                   WHEN 0 THEN 'v ' || d.doc_id::VARCHAR
                   WHEN 1 THEN 'a,b ' || (d.doc_id % 5)::VARCHAR
                   WHEN 2 THEN 'He said "hi" ' || (d.doc_id % 3)::VARCHAR
                   WHEN 3 THEN 'line1' || chr(10) || 'line2 '
                       || d.doc_id::VARCHAR
                   WHEN 4 THEN ''
                   WHEN 5 THEN 'tail ' || (d.doc_id % 7)::VARCHAR
               END AS field
        FROM documents d, cell
        ORDER BY d.doc_id, cell.row_idx, cell.col_idx
    """


def q_extract_ipynb_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jupyter-notebook extraction (r5, kernels/ipynb_text.py): the
    writer twin serializes markdown + code + raw cells through the
    stdlib json module with list-of-keepends sources; the code cell
    carries a stream output AND an execute_result whose text/plain both
    render after the source, so one closed-form oracle checks the cell
    order, the list-source join, and every textual output kind the
    nbformat schema defines."""
    def build(i: int) -> bytes:
        from open_ocr_spark.kernels.ipynb_text import build_ipynb

        return build_ipynb(
            [
                ("markdown", f"# Notebook {i % 9}\n\nProse café {i}."),
                ("code", f"x = {i}\nprint(x * 2)"),
                ("raw", f"raw cell {i % 3}"),
            ],
            outputs={1: [
                {"output_type": "stream", "name": "stdout",
                 "text": [f"{2 * i}\n"]},
                {"output_type": "execute_result", "execution_count": 2,
                 "metadata": {}, "data": {"text/plain": [f"{2 * i}"]}},
            ]},
        )

    return _twin_extract(spark, sf_dir, "https://nb.example.com/n/", build)


ORACLES["extract_ipynb_text"] = """
        SELECT doc_id,
               '# Notebook ' || (doc_id % 9)::VARCHAR
               || chr(10) || chr(10)
               || 'Prose café ' || doc_id::VARCHAR || '.'
               || chr(10) || chr(10)
               || 'x = ' || doc_id::VARCHAR || chr(10) || 'print(x * 2)'
               || chr(10) || chr(10)
               || (doc_id * 2)::VARCHAR
               || chr(10) || chr(10)
               || (doc_id * 2)::VARCHAR
               || chr(10) || chr(10)
               || 'raw cell ' || (doc_id % 3)::VARCHAR AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


def q_extract_latex_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""LaTeX extraction (r5, kernels/latex_text.py): the writer twin
    wraps paragraphs in a full \documentclass document with a preamble,
    comment lines, \section/\subsection titles, an \emph wrapper, the
    \% escape, the ---/``''`` ligatures, and one equation environment —
    so one closed-form oracle checks comment stripping, body isolation,
    sectioning, wrapper unwrapping, escapes, ligatures, and verbatim
    math in a single pass."""
    def build(i: int) -> bytes:
        from open_ocr_spark.kernels.latex_text import build_latex

        return build_latex(
            [
                f"Alpha café {i} --- with 100\\% effort.",
                f"Beta ``quote {i % 5}'' and \\emph{{stress}} words.",
            ],
            title=f"Paper {i % 7}",
            sections=True,
            math=f"E_{i % 4} = m c^2",
        )

    return _twin_extract(spark, sf_dir, "https://tex.example.com/p/", build)


ORACLES["extract_latex_text"] = """
        SELECT doc_id,
               'Paper ' || (doc_id % 7)::VARCHAR
               || chr(10) || chr(10)
               || 'Alpha café ' || doc_id::VARCHAR
               || ' ' || chr(8212) || ' with 100% effort.'
               || chr(10) || chr(10)
               || 'Part 1'
               || chr(10) || chr(10)
               || 'Beta ' || chr(8220) || 'quote '
               || (doc_id % 5)::VARCHAR || chr(8221)
               || ' and stress words.'
               || chr(10) || chr(10)
               || 'E_' || (doc_id % 4)::VARCHAR || ' = m c^2'
               AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


def q_extract_srt_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SubRip subtitle extraction (r5, kernels/subtitle_text.py): two
    cues per document — one with inline ``<i>`` markup to strip, one
    multi-line with a literal ampersand that must survive — so the
    closed-form oracle checks index/timestamp dropping, tag stripping,
    intra-cue line breaks, and cue joining at once."""
    def build(i: int) -> bytes:
        from open_ocr_spark.kernels.subtitle_text import build_srt

        return build_srt([
            (i * 1000, i * 1000 + 900, f"Cue one for {i} <i>café</i>."),
            ((i + 1) * 1000, (i + 1) * 1000 + 900,
             f"Line A {i % 5}\nLine B & tail."),
        ])

    return _twin_extract(spark, sf_dir, "https://sub.example.com/s/", build)


ORACLES["extract_srt_text"] = """
        SELECT doc_id,
               'Cue one for ' || doc_id::VARCHAR || ' café.'
               || chr(10) || chr(10)
               || 'Line A ' || (doc_id % 5)::VARCHAR || chr(10)
               || 'Line B & tail.' AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


def q_extract_vtt_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebVTT subtitle extraction (r5, kernels/subtitle_text.py): a
    NOTE block to drop, cue identifiers and settings to drop, a voice
    span to strip, and an ``&amp;`` reference to unescape — one
    closed-form oracle over the whole grammar surface."""
    def build(i: int) -> bytes:
        from open_ocr_spark.kernels.subtitle_text import build_webvtt

        return build_webvtt([
            (0, 1500, f"<v Host>Welcome {i}.</v>"),
            (2000, 3500, f"Second &amp; cue {i % 7}"),
        ], note="fixture block, must drop")

    return _twin_extract(spark, sf_dir, "https://sub.example.com/v/", build)


ORACLES["extract_vtt_text"] = """
        SELECT doc_id,
               'Welcome ' || doc_id::VARCHAR || '.'
               || chr(10) || chr(10)
               || 'Second & cue ' || (doc_id % 7)::VARCHAR
               AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


def q_extract_ps_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PostScript extraction (r5, kernels/ps_text.py): two pages per
    document — page one has two moveto/show lines (one with escaped
    parens and a split-show join), page two one line — so the
    closed-form oracle checks string-escape decoding, same-y show
    concatenation, moveto line breaks, and showpage paragraph breaks
    in one pass."""
    def build(i: int) -> bytes:
        from open_ocr_spark.kernels.ps_text import build_ps

        return build_ps([
            [f"Line (one) of {i}.", f"Second \\ line {i % 5}."],
            [f"Page two for {i % 7}."],
        ])

    return _twin_extract(spark, sf_dir, "https://ps.example.com/d/", build)


ORACLES["extract_ps_text"] = """
        SELECT doc_id,
               'Line (one) of ' || doc_id::VARCHAR || '.'
               || chr(10)
               || 'Second \\ line ' || (doc_id % 5)::VARCHAR || '.'
               || chr(10) || chr(10)
               || 'Page two for ' || (doc_id % 7)::VARCHAR || '.'
               AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """
