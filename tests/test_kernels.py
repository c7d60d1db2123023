"""Kernel unit tier (no Spark) — mirrors the reference's always-on unit
tests (SURVEY.md §5.1): engine-enum decode, engine-args extraction,
SWT-param extraction, chain order, plus extraction determinism."""

import pytest

from open_ocr_spark.kernels.dispatch import extract_document
from open_ocr_spark.kernels.html_extract import extract_main_text
from open_ocr_spark.kernels.htmltree import collapse_ws, parse_html
from open_ocr_spark.kernels.mock import MOCK_ENGINE_RESPONSE
from open_ocr_spark.kernels.options import (
    ENGINE_MOCK,
    ENGINE_TESSERACT,
    EngineArgs,
    execution_order,
    parse_engine_args,
    resolve_engine,
    swt_aggressive,
)
from open_ocr_spark.kernels.pdf_text import extract_pdf_text, is_pdf


# --- engine enum (ocr_engine_test.go:11-23) --------------------------------

def test_engine_decode_string():
    assert resolve_engine("tesseract") == ENGINE_TESSERACT
    assert resolve_engine("TESSERACT") == ENGINE_TESSERACT
    assert resolve_engine("mock") == ENGINE_MOCK


def test_engine_unknown_string_defaults_to_mock():
    # ocr_engine.go:58-60
    assert resolve_engine("no-such-engine") == ENGINE_MOCK


def test_engine_missing_defaults_to_tesseract():
    # Go zero value of OcrEngineType == ENGINE_TESSERACT
    assert resolve_engine(None) == ENGINE_TESSERACT
    assert resolve_engine("") == ENGINE_TESSERACT


def test_engine_int_decode():
    assert resolve_engine(0) == ENGINE_TESSERACT
    assert resolve_engine(2) == ENGINE_MOCK
    assert resolve_engine(99) == ENGINE_MOCK


# --- engine args (tesseract_engine_test.go:70-82, 46-48) -------------------

def test_engine_args_full():
    args = parse_engine_args(
        {
            "config_vars": {"tessedit_char_whitelist": "0123456789"},
            "psm": "0",
            "lang": "jpn",
        }
    )
    assert args.config_vars == {"tessedit_char_whitelist": "0123456789"}
    assert args.psm == "0"
    assert args.lang == "jpn"


def test_engine_args_absent_is_valid():
    # tesseract_engine.go:27-29; tested tesseract_engine_test.go:46-48
    assert parse_engine_args(None) == EngineArgs()
    assert parse_engine_args({}) == EngineArgs()


def test_engine_args_wrong_types_error():
    with pytest.raises(ValueError):
        parse_engine_args({"psm": 3})
    with pytest.raises(ValueError):
        parse_engine_args({"lang": 7})
    with pytest.raises(ValueError):
        parse_engine_args({"config_vars": {"k": 1}})


def test_hocr_switch():
    args = parse_engine_args({"config_vars": {"tessedit_create_hocr": "1"}})
    assert args.structured_output


# --- SWT param (stroke_width_transform_test.go:10-34) ----------------------

def test_swt_param_extraction():
    assert swt_aggressive({"stroke-width-transform": "0"}) is False


def test_swt_param_default():
    assert swt_aggressive(None) is True
    assert swt_aggressive({}) is True
    assert swt_aggressive({"stroke-width-transform": "2"}) is True
    assert swt_aggressive({"stroke-width-transform": 0}) is True


# --- chain order (ocr_request.go:21-31) ------------------------------------

def test_chain_reverse_order():
    assert execution_order(["convert-pdf", "stroke-width-transform"]) == [
        "stroke-width-transform", "convert-pdf",
    ]
    assert execution_order([]) == []
    assert execution_order(None) == []


# --- mock engine (mock_engine.go:3-10) --------------------------------------

def test_mock_constant():
    assert MOCK_ENGINE_RESPONSE == "mock engine decoder response"


# --- html extraction --------------------------------------------------------

HTML = (
    b"<html><head><script>x</script></head><body>"
    b'<nav><a href="/">Home</a><a href="/b">B</a><a href="/c">C</a></nav>'
    b"<article><p>Alpha beta gamma delta epsilon zeta.</p>"
    b"<p>Eta theta iota kappa.</p></article>"
    b'<footer><a href="/x">x</a><a href="/y">y</a></footer></body></html>'
)


def test_extract_main_text_paragraphs():
    assert extract_main_text(HTML) == (
        "Alpha beta gamma delta epsilon zeta.\n\nEta theta iota kappa."
    )


def test_extract_deterministic():
    assert extract_main_text(HTML) == extract_main_text(HTML)


def test_extract_whitespace_normalization():
    html = b"<body><article><p>  a \t b\n\nc  </p></article></body>"
    assert extract_main_text(html) == "a b c"


def test_extract_non_utf8_replace_policy():
    html = b"<body><article><p>ok \xff end</p></article></body>"
    assert extract_main_text(html) == "ok � end"


def test_extract_malformed_html_no_raise():
    assert isinstance(extract_main_text(b"<div><p>unclosed"), str)
    assert extract_main_text(b"") == ""


def test_conservative_mode_keeps_boilerplate():
    html = (
        b"<body><div><p>Main text block with enough words here.</p>"
        b"<footer>footer words</footer></div></body>"
    )
    aggressive = extract_main_text(html, aggressive=True)
    conservative = extract_main_text(html, aggressive=False)
    assert "footer words" not in aggressive
    assert "footer words" in conservative


def test_collapse_ws():
    assert collapse_ws("  a\t\nb  ") == "a b"


def test_parse_html_skips_script_style():
    root = parse_html(b"<body><script>bad()</script><p>good</p></body>")
    texts = list(root.iter_text())
    assert "good" in texts
    assert all("bad" not in (t or "") for t in texts)


# --- pdf --------------------------------------------------------------------

PDF = b"%PDF-1.4\nstream\nBT (Line one) Tj ET\nBT (Line \\(two\\)) Tj ET\nendstream"


def test_is_pdf():
    assert is_pdf(PDF)
    assert not is_pdf(HTML)
    assert not is_pdf(None)
    assert not is_pdf(b"")


def test_extract_pdf_text():
    assert extract_pdf_text(PDF) == "Line one\nLine (two)"


def _flate_pdf(content: bytes, filter_name: bytes = b"/FlateDecode") -> bytes:
    import zlib

    body = zlib.compress(content) if filter_name == b"/FlateDecode" else content
    return (
        b"%PDF-1.5\n1 0 obj\n<< /Filter " + filter_name
        + b" /Length " + str(len(body)).encode()
        + b" >>\nstream\n" + body + b"\nendstream\nendobj\n%%EOF\n"
    )


def test_pdf_flate_stream_extracts():
    pdf = _flate_pdf(b"BT (Deflated one) Tj ET\nBT (two \\(2\\)) Tj ET")
    assert extract_pdf_text(pdf) == "Deflated one\ntwo (2)"


def test_pdf_mixed_plain_and_flate_streams():
    plain = b"%PDF-1.5\n2 0 obj\n<< /Length 20 >>\nstream\nBT (plain) Tj ET\nendstream\nendobj\n"
    pdf = plain + _flate_pdf(b"BT (packed) Tj ET")[9:]  # drop second magic
    assert extract_pdf_text(pdf) == "plain\npacked"


def test_pdf_flate_body_ending_in_cr():
    # A compressed body whose last byte is \r must not lose it to the
    # EOL-before-endstream strip: /Length-based slicing keeps it intact.
    # zlib stored blocks (level 0) let us force the hostile tail byte.
    import zlib

    co = zlib.compressobj(0)
    body = co.compress(b"BT (tricky) Tj ET\r") + co.flush()
    pdf = (
        b"%PDF-1.5\n1 0 obj\n<< /Filter /FlateDecode /Length "
        + str(len(body)).encode()
        + b" >>\nstream\n" + body + b"\nendstream\nendobj\n%%EOF\n"
    )
    assert extract_pdf_text(pdf) == "tricky"


def test_pdf_flate_body_containing_endstream_bytes():
    # /Length slicing must survive the literal bytes '\nendstream' inside
    # the compressed body (stored blocks embed the content verbatim).
    import zlib

    co = zlib.compressobj(0)
    body = co.compress(b"BT (payload) Tj ET\n% endstream decoy\n") + co.flush()
    assert b"endstream" in body
    pdf = (
        b"%PDF-1.5\n1 0 obj\n<< /Filter /FlateDecode /Length "
        + str(len(body)).encode()
        + b" >>\nstream\n" + body + b"\nendstream\nendobj\n%%EOF\n"
    )
    assert extract_pdf_text(pdf) == "payload"


def test_pdf_corrupt_flate_stream_errors():
    pdf = (b"%PDF-1.5\n1 0 obj\n<< /Filter /FlateDecode >>\n"
           b"stream\nnot-zlib-data\nendstream\nendobj\n")
    with pytest.raises(ValueError, match="pdf-unsupported"):
        extract_pdf_text(pdf)


def test_pdf_unsupported_filter_errors():
    # the error prefix is structured (class:subclass) so metrics can split
    # the unsupported bucket by refused filter (error_class_metrics)
    pdf = _flate_pdf(b"\xff\xd8\xff", filter_name=b"/DCTDecode")
    with pytest.raises(ValueError, match="pdf-unsupported:filter-DCTDecode"):
        extract_pdf_text(pdf)


def test_pdf_filter_chain_with_image_filter_errors():
    # a chain containing ANY undecodable (image) filter is refused whole
    pdf = _flate_pdf(b"x", filter_name=b"[/ASCII85Decode /DCTDecode]")
    with pytest.raises(
        ValueError, match="pdf-unsupported:filter-ASCII85Decode,DCTDecode"
    ):
        extract_pdf_text(pdf)


def _filtered_pdf(body: bytes, filter_name: bytes) -> bytes:
    return (
        b"%PDF-1.5\n1 0 obj\n<< /Filter " + filter_name
        + b" /Length " + str(len(body)).encode()
        + b" >>\nstream\n" + body + b"\nendstream\nendobj\n%%EOF\n"
    )


def test_pdf_asciihex_stream():
    body = b"BT (hexed) Tj ET".hex().encode() + b">"
    assert extract_pdf_text(
        _filtered_pdf(body, b"/ASCIIHexDecode")
    ) == "hexed"


def test_pdf_ascii85_stream():
    import base64

    body = base64.a85encode(b"BT (eighty five) Tj ET") + b"~>"
    assert extract_pdf_text(
        _filtered_pdf(body, b"/ASCII85Decode")
    ) == "eighty five"


def test_pdf_runlength_stream():
    # literal run of the whole content, then EOD
    content = b"BT (rle) Tj ET"
    body = bytes([len(content) - 1]) + content + b"\x80"
    assert extract_pdf_text(
        _filtered_pdf(body, b"/RunLengthDecode")
    ) == "rle"


def _lzw_encode(data: bytes) -> bytes:
    """Reference PDF/TIFF LZW encoder for round-trip tests: early-change
    width bumps (next_code hits 2^w - 1) and CLEAR at table-full."""

    def fresh():
        return {bytes([i]): i for i in range(256)}

    table, next_code, width = fresh(), 258, 9
    codes = [(256, width)]
    w = b""
    for ch in data:
        c = bytes([ch])
        if w + c in table:
            w += c
        else:
            codes.append((table[w], width))
            table[w + c] = next_code
            next_code += 1
            if next_code >= (1 << width) - 1 and width < 12:  # early change
                width += 1
            elif next_code >= 4095:
                codes.append((256, width))
                table, next_code, width = fresh(), 258, 9
            w = c
    if w:
        codes.append((table[w], width))
    codes.append((257, width))
    acc = nb = 0
    out = bytearray()
    for code, wd in codes:
        acc = (acc << wd) | code
        nb += wd
        while nb >= 8:
            out.append((acc >> (nb - 8)) & 0xFF)
            nb -= 8
    if nb:
        out.append((acc << (8 - nb)) & 0xFF)
    return bytes(out)


def test_pdf_lzw_stream():
    # long enough to cross the 9->10 bit width bump (>253 new entries)
    content = b"".join(
        b"BT (lzw line %d) Tj ET\n" % i for i in range(60)
    )
    pdf = _filtered_pdf(_lzw_encode(content), b"/LZWDecode")
    assert extract_pdf_text(pdf) == "\n".join(
        f"lzw line {i}" for i in range(60)
    )


def test_pdf_lzw_all_width_bumps_and_clear_reset():
    # enough distinct material to cross 10->11->12-bit widths AND force a
    # table-full CLEAR reset mid-stream (>4k new entries)
    import random

    rng = random.Random(9)
    lines = [
        "w%d %s" % (i, "".join(rng.choice("abcdefgh") for _ in range(30)))
        for i in range(900)
    ]
    content = b"".join(b"BT (%s) Tj ET\n" % ln.encode() for ln in lines)
    pdf = _filtered_pdf(_lzw_encode(content), b"/LZWDecode")
    assert extract_pdf_text(pdf) == "\n".join(lines)


def test_pdf_filter_chain_decodes_in_order():
    # [/ASCII85Decode /FlateDecode]: transport armor over compression —
    # decoders apply in declaration order (§7.4: first filter listed is
    # the first applied to the stored data)
    import base64
    import zlib

    body = base64.a85encode(zlib.compress(b"BT (chained) Tj ET")) + b"~>"
    pdf = _filtered_pdf(body, b"[/ASCII85Decode /FlateDecode]")
    assert extract_pdf_text(pdf) == "chained"


# --- TJ arrays / hex strings / escapes (PDF 32000-1:2008 §9.4.3, §7.3.4) ----

def test_pdf_tj_array_concatenates_elements():
    pdf = b"%PDF-1.4\nBT [(Hel) -120 (lo) 5 ( wor) (ld)] TJ ET\n%%EOF"
    assert extract_pdf_text(pdf) == "Hello world"


def test_pdf_tj_array_with_hex_elements():
    pdf = b"%PDF-1.4\nBT [(A) -50 <42> (C)] TJ ET\n%%EOF"
    assert extract_pdf_text(pdf) == "ABC"


def test_pdf_hex_string_tj():
    pdf = b"%PDF-1.4\nBT <48656C6C6F> Tj ET\n%%EOF"
    assert extract_pdf_text(pdf) == "Hello"


def test_pdf_hex_string_whitespace_and_odd_padding():
    # whitespace inside hex is legal; odd digit count pads a trailing 0:
    # <48 65 6C 6C 7> == 48 65 6C 6C 70 == "Hellp"
    pdf = b"%PDF-1.4\nBT <48 65 6C\n6C 7> Tj ET\n%%EOF"
    assert extract_pdf_text(pdf) == "Hellp"


def test_pdf_hex_utf16be_bom():
    # FEFF BOM -> UTF-16BE ("Hi" = 0048 0069)
    pdf = b"%PDF-1.4\nBT <FEFF00480069> Tj ET\n%%EOF"
    assert extract_pdf_text(pdf) == "Hi"


def test_pdf_quote_operators():
    # ' moves to next line and shows; " sets spacing (two numbers) and shows
    pdf = b"%PDF-1.4\nBT (one) Tj (two) ' 2 0.5 (three) \" ET\n%%EOF"
    assert extract_pdf_text(pdf) == "one\ntwo\nthree"


def test_pdf_octal_and_continuation_escapes():
    # \101 = 'A'; \<newline> is a line continuation (vanishes); \q -> 'q'
    pdf = b"%PDF-1.4\nBT (\\101B\\\nC\\q) Tj ET\n%%EOF"
    assert extract_pdf_text(pdf) == "ABCq"


def test_pdf_tj_array_negative_kerning_numbers_dropped():
    pdf = b"%PDF-1.4\nBT [(a) -1200.5 (b) 33 (c)] TJ ET\n%%EOF"
    assert extract_pdf_text(pdf) == "abc"


def test_pdf_tj_in_flate_stream():
    pdf = _flate_pdf(b"BT [(deep) -10 ( array)] TJ ET\nBT <4F4B> Tj ET")
    assert extract_pdf_text(pdf) == "deep array\nOK"


def test_pdf_stray_stream_keyword_outside_object_skipped():
    # A 'stream\n' byte sequence NOT preceded by an 'obj ... >>' head (e.g.
    # inside a comment) must not derail the scan past the next real stream
    # (ADVICE r2 item 1).
    real = _flate_pdf(b"BT (real) Tj ET")[9:]  # strip magic, keep object
    pdf = b"%PDF-1.5\n% decoy stream\nof bytes\n" + real
    assert extract_pdf_text(pdf) == "real"


# --- dispatch (error-as-value, ocr_rpc_worker.go:163-190) -------------------

def test_dispatch_ok():
    text, status, error = extract_document(HTML)
    assert status == "ok" and error == ""
    assert text.startswith("Alpha beta")


def test_dispatch_mock_ignores_payload():
    assert extract_document(b"", engine="mock") == (MOCK_ENGINE_RESPONSE, "ok", "")


def test_dispatch_unknown_engine_defaults_mock():
    text, status, _ = extract_document(HTML, engine="bogus")
    assert (text, status) == (MOCK_ENGINE_RESPONSE, "ok")


def test_dispatch_empty_payload_error_value():
    text, status, error = extract_document(b"")
    assert text == "" and status == "error:empty" and error


def test_dispatch_lang_gate():
    _, status, _ = extract_document(HTML, lang="klingon")
    assert status == "error:lang"
    _, status, _ = extract_document(HTML, lang="jpn")
    assert status == "ok"
    # explicit engine_args lang overrides the row lang
    _, status, _ = extract_document(HTML, lang="klingon",
                                    engine_args={"lang": "eng"})
    assert status == "ok"


def test_dispatch_pdf_routing_by_magic_bytes():
    text, status, _ = extract_document(PDF)
    assert status == "ok" and text == "Line one\nLine (two)"


def test_dispatch_unknown_preprocessor_error():
    _, status, error = extract_document(HTML, preprocessors=["nope"])
    assert status == "error:preprocessor" and "nope" in error
    # stages run in reverse list order, so the LAST unknown name in the
    # list is the first one executed — and the one the error names
    _, status, error = extract_document(
        HTML, preprocessors=["first-bad", "convert-pdf", "last-bad"]
    )
    assert (status, error) == ("error:preprocessor",
                               "unknown preprocessor: last-bad")


def test_dispatch_never_raises():
    for payload in (None, b"", b"\x00\x01", b"<html>", PDF, HTML):
        text, status, error = extract_document(payload)
        assert isinstance(text, str) and isinstance(status, str)


def test_dispatch_structured_output_spans():
    import json

    text, status, _ = extract_document(
        HTML, engine_args={"config_vars": {"tessedit_create_hocr": "1"}}
    )
    assert status == "ok"
    doc = json.loads(text)
    assert doc["spans"][0]["text"].startswith("Alpha beta")
    assert doc["spans"][0]["start"] == 0


def test_dispatch_size_gate():
    # A16 recast: pathological payloads become error values, never stalls
    from open_ocr_spark.kernels import dispatch

    big = b"<html>" + b"x" * (dispatch.MAX_DOC_BYTES + 1)
    text, status, error = extract_document(big)
    assert status == "error:too-large" and text == ""


def test_pdf_filtered_stream_without_length_errors():
    # missing or indirect /Length on a FILTERED stream must refuse rather
    # than risk a truncated-body decompress leaking garbage text
    pdf = (b"%PDF-1.5\n1 0 obj\n<< /Filter /FlateDecode /Length 5 0 R >>\n"
           b"stream\nxxxxxxxx\nendstream\nendobj\n")
    with pytest.raises(ValueError, match="without usable /Length"):
        extract_pdf_text(pdf)


def test_tokenizer_rawtext_resync_edges():
    """The finditer tokenizer must resync after raw-text jumps: a token
    that STARTS inside a script body (e.g. an unterminated `<!--`) may
    span past the script's close tag, and without the resync it would
    swallow real content after the script as one comment. Each case pins
    the extracted text, not just absence-of-crash."""
    from open_ocr_spark.kernels.html_extract import extract_main_text

    # unterminated comment inside script: content after must survive
    html = (b"<html><body><article><script>var x; <!-- no close</script>"
            b"<p>real content here that is long enough to win the "
            b"density vote against nothing else</p></article></body></html>")
    text = extract_main_text(html)
    assert "real content here" in text
    assert "var x" not in text and "no close" not in text

    # terminated legacy script-hiding comment: unchanged behavior
    html = (b"<article><script><!--\nhidden()\n//--></script>"
            b"<p>visible paragraph text of reasonable length for the "
            b"extractor to select</p></article>")
    text = extract_main_text(html)
    assert "visible paragraph" in text and "hidden" not in text

    # spaced close tag + rawtext textarea swallowing markup
    html = (b"<article><textarea><b>not content</textarea>"
            b"<p>actual words live here and keep on going for a bit"
            b"</p></article>")
    text = extract_main_text(html)
    assert "actual words" in text and "not content" not in text


def test_pdf_comment_between_dict_close_and_stream():
    """S7.2.4: comments are whitespace — a '% ...' run between the dict's
    '>>' and the stream keyword must not make the anchor guard skip a real
    stream (which would ship empty text with status ok)."""
    pdf = _flate_pdf(b"BT (noted) Tj ET")
    commented = pdf.replace(b">>\nstream\n", b">> % generator note\nstream\n")
    assert commented != pdf
    assert extract_pdf_text(commented) == "noted"
    # two stacked comment lines
    stacked = pdf.replace(b">>\nstream\n", b">> %a\n%b\nstream\n")
    assert extract_pdf_text(stacked) == "noted"


def _predictor_pdf(body: bytes, parms: bytes) -> bytes:
    return (
        b"%PDF-1.5\n1 0 obj\n<< /Filter /FlateDecode /DecodeParms " + parms
        + b" /Length " + str(len(body)).encode()
        + b" >>\nstream\n" + body + b"\nendstream\nendobj\n%%EOF\n"
    )


def _png_predict_up(data: bytes, columns: int) -> bytes:
    """Forward-apply the PNG Up filter (type 2) so the decoder's reversal
    is pinned against an independent construction."""
    assert len(data) % columns == 0
    out = bytearray()
    prev = bytes(columns)
    for r0 in range(0, len(data), columns):
        row = data[r0 : r0 + columns]
        out.append(2)
        out += bytes((row[i] - prev[i]) & 0xFF for i in range(columns))
        prev = row
    return bytes(out)


def test_pdf_flate_png_predictor_reversed():
    """/DecodeParms << /Predictor 12 /Columns N >> on a FlateDecode stream:
    the PNG row prediction must be reversed after inflation — ignoring it
    would scan garbage bytes and emit wrong/empty text with status ok."""
    import zlib

    content = b"BT (predicted text) Tj ET\n"
    cols = 13
    content += b" " * ((-len(content)) % cols)
    body = zlib.compress(_png_predict_up(content, cols))
    pdf = _predictor_pdf(body, b"<< /Predictor 12 /Columns 13 >>")
    assert extract_pdf_text(pdf) == "predicted text"


def test_pdf_flate_tiff_predictor_reversed():
    import zlib

    content = b"BT (tiffed) Tj ET\n"
    cols = 6
    content += b" " * ((-len(content)) % cols)
    diff = bytearray(content)
    for r0 in range(0, len(diff), cols):  # forward horizontal differencing
        for i in range(r0 + cols - 1, r0, -1):
            diff[i] = (diff[i] - diff[i - 1]) & 0xFF
    body = zlib.compress(bytes(diff))
    pdf = _predictor_pdf(body, b"<< /Predictor 2 /Columns 6 >>")
    assert extract_pdf_text(pdf) == "tiffed"


def test_pdf_unsupported_predictor_shapes_error():
    """Non-8-bit rows and unknown predictor ids must be error-as-value
    (ValueError), never silently-wrong decoded bytes."""
    import zlib

    body = zlib.compress(b"BT (x) Tj ET")
    pdf = _predictor_pdf(
        body, b"<< /Predictor 12 /Columns 4 /BitsPerComponent 4 >>"
    )
    with pytest.raises(ValueError, match="pdf-unsupported:predictor"):
        extract_pdf_text(pdf)
    pdf = _predictor_pdf(body, b"<< /Predictor 3 /Columns 4 >>")
    with pytest.raises(ValueError, match="pdf-unsupported:predictor"):
        extract_pdf_text(pdf)
    # predictor 1 (or parms without /Predictor) is a no-op, not an error
    pdf = _predictor_pdf(body, b"<< /Predictor 1 >>")
    assert extract_pdf_text(pdf) == "x"


# --- charset sniff (frozen decode policy) -----------------------------------


def test_sniff_charset_meta_and_boms():
    from open_ocr_spark.kernels.htmltree import sniff_charset

    assert sniff_charset(b"<html><body>plain") == "utf-8"
    assert sniff_charset(b'<meta charset="windows-1252">') == "cp1252"
    assert sniff_charset(b"<META CHARSET=ISO-8859-1>") == "cp1252"
    assert (
        sniff_charset(
            b'<meta http-equiv="Content-Type" '
            b'content="text/html; charset=Shift_JIS">'
        )
        == "shift_jis"
    )
    assert sniff_charset(b'<meta charset="gb2312">') == "gb18030"
    # unknown label -> utf-8; meta claiming utf-16 is a lie -> utf-8
    assert sniff_charset(b'<meta charset="klingon-9">') == "utf-8"
    assert sniff_charset(b'<meta charset="utf-16">') == "utf-8"
    # BOMs win over meta
    assert sniff_charset(b"\xef\xbb\xbf<meta charset=latin1>") == "utf-8-sig"
    assert sniff_charset(b"\xff\xfex\x00") == "utf-16"
    assert sniff_charset(b"\xfe\xff\x00x") == "utf-16"
    # meta past the 1024-byte prescan window is ignored
    assert sniff_charset(b" " * 1024 + b'<meta charset="latin1">') == "utf-8"


def test_sniff_charset_skips_commented_meta():
    from open_ocr_spark.kernels.htmltree import sniff_charset

    # a commented-out meta must not win over the real one (WHATWG prescan
    # skips comments), regardless of order within the window
    assert (
        sniff_charset(
            b'<!-- <meta charset="shift_jis"> --><meta charset="latin1">'
        )
        == "cp1252"
    )
    assert (
        sniff_charset(
            b'<meta charset="latin1"><!-- <meta charset="shift_jis"> -->'
        )
        == "cp1252"
    )
    # only a commented meta -> fallback
    assert sniff_charset(b'<!-- <meta charset="shift_jis"> -->') == "utf-8"
    # an UNCLOSED comment swallows the rest of the prescan window
    assert sniff_charset(b'<!-- oops <meta charset="latin1">') == "utf-8"


def test_decode_html_bytes_cp1252_and_utf16():
    from open_ocr_spark.kernels.htmltree import decode_html_bytes

    page = '<meta charset="iso-8859-1"><p>café ’quote’</p>'
    assert decode_html_bytes(page.encode("cp1252")) == page
    u16 = "﻿<p>café</p>".encode("utf-16-le")
    assert decode_html_bytes(u16) == "<p>café</p>"  # BOM stripped
    # undeclared cp1252 bytes degrade to replacement chars, never raise
    assert "�" in decode_html_bytes("café".encode("cp1252"))


def test_extraction_honours_declared_charset():
    from open_ocr_spark.kernels.html_extract import extract_main_text
    from open_ocr_spark.kernels.htmltree import parse_html

    body = "Gute Nacht für alle Gäste im großen Saal " * 30
    page = (
        '<html><head><meta charset="windows-1252"></head>'
        f"<body><div><p>{body.strip()}</p></div></body></html>"
    )
    raw = page.encode("cp1252")
    text = extract_main_text(raw)
    assert "für" in text and "großen" in text and "�" not in text
    # the decoded page keeps its candidates and their text totals
    assert [(n.tag, n.tlen, n.llen) for n in parse_html(raw).candidates] == [
        ("body", 1229, 0), ("div", 1229, 0),
    ]


# --- ToUnicode CMap (PDF 32000-1:2008 §9.10.3) -------------------------------


def test_pdf_cmap_writer_roundtrip():
    from open_ocr_spark.kernels.pdf_text import render_pdf_cmap

    for text in ("Hello, CMap!", "", "aaaa", "café — naïve 🚀"):
        assert extract_pdf_text(render_pdf_cmap(text)) == text + "abc<<>>"


def test_pdf_cmap_is_load_bearing():
    # with the ToUnicode ref removed, the same bytes must mojibake:
    # proves the decode goes through the CMap, not a byte fallback
    from open_ocr_spark.kernels.pdf_text import render_pdf_cmap

    pdf = render_pdf_cmap("Hi").replace(b"/ToUnicode 5 0 R ", b"")
    assert extract_pdf_text(pdf).startswith("\x00\x01\x00\x02")


def test_pdf_cmap_bfchar_bfrange_forms():
    from open_ocr_spark.kernels.pdf_text import _parse_cmap

    body = (
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        b"2 beginbfchar\n<0001> <0041>\n<0002> <00660066>\nendbfchar\n"
        b"2 beginbfrange\n"
        b"<0010> <0012> <0061>\n"             # incrementing hex dst
        b"<0020> <0021> [<005A> <0039>]\n"    # array dst
        b"endbfrange\n"
    )
    width, m = _parse_cmap(body)
    assert width == 2
    assert m[1] == "A" and m[2] == "ff"       # multi-unit ligature
    assert (m[0x10], m[0x11], m[0x12]) == ("a", "b", "c")
    assert (m[0x20], m[0x21]) == ("Z", "9")


def test_pdf_cmap_one_byte_codes_and_unmapped_replacement():
    from open_ocr_spark.kernels.pdf_text import _cmap_text, _parse_cmap

    body = (
        b"1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
        b"1 beginbfchar\n<41> <0058>\nendbfchar\n"
    )
    width, m = _parse_cmap(body)
    assert width == 1
    assert _cmap_text(b"A" + b"\x07", width, m) == "X�"


def test_pdf_cmap_trailing_partial_code_replacement():
    from open_ocr_spark.kernels.pdf_text import _cmap_text

    assert _cmap_text(b"\x00\x01\x02", 2, {1: "Q"}) == "Q�"


def test_pdf_cmap_malformed_range_skipped():
    from open_ocr_spark.kernels.pdf_text import _parse_cmap

    body = b"1 beginbfrange\n<0010> <0001> <0041>\nendbfrange\n"
    _, m = _parse_cmap(body)  # hi < lo: skipped, no explosion
    assert m == {}


def test_pdf_font_without_tounicode_falls_back():
    # a Tf op naming a font with no CMap keeps the plain byte decode
    pdf = (
        b"%PDF-1.7\n"
        b"3 0 obj\n<< /Resources << /Font << /G1 4 0 R >> >> >>\nendobj\n"
        b"4 0 obj\n<< /Type /Font /ToUnicode 9 0 R >>\nendobj\n"
        b"9 0 obj\n<< /Length 43 >>\nstream\n"
        b"1 beginbfchar\n<0001> <0051>\nendbfchar\n"
        b"\nendstream\nendobj\n"
        b"BT /F9 12 Tf (plain bytes) Tj ET\n%%EOF\n"
    )
    assert extract_pdf_text(pdf) == "plain bytes"


# --- transport-layer charset override (r5) ----------------------------------


def _extract_with_charset(label, payload):
    from open_ocr_spark.kernels.dispatch import extract_document

    args = {"config_vars": {"charset": label}} if label else None
    return extract_document(payload, engine_args=args)


def test_charset_header_beats_sniff():
    payload = "<html><body><p>Café façade</p></body></html>".encode(
        "cp1252"
    )
    text, status, _ = _extract_with_charset("ISO-8859-1", payload)
    assert status == "ok" and text == "Café façade"


def test_charset_absent_falls_to_sniff_with_replacement():
    payload = "<html><body><p>Café</p></body></html>".encode("cp1252")
    text, status, _ = _extract_with_charset(None, payload)
    assert status == "ok" and text == "Caf�"


def test_charset_unknown_label_falls_to_sniff():
    payload = "<html><body><p>Café</p></body></html>".encode("cp1252")
    text, status, _ = _extract_with_charset("x-weird", payload)
    assert status == "ok" and text == "Caf�"


def test_charset_header_loses_nothing_on_utf8_pages():
    payload = "<html><body><p>Café</p></body></html>".encode("utf-8")
    # a cp1252 header on real utf-8 bytes degrades (Ã©) — the frozen
    # policy trusts the transport layer, as the spec prescribes
    text, status, _ = _extract_with_charset("windows-1252", payload)
    assert status == "ok" and text == "CafÃ©"


def test_charset_utf16_label_normalizes_to_utf8():
    # the WHATWG class maps utf-16 labels to utf-8 for the prescan; the
    # transport layer shares the label table
    payload = "<html><body><p>ok</p></body></html>".encode("utf-8")
    text, status, _ = _extract_with_charset("UTF-16", payload)
    assert status == "ok" and text == "ok"
