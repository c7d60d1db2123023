

def test_encrypted_pdf_is_error_value():
    import pytest

    from open_ocr_spark.kernels.dispatch import extract_document
    from open_ocr_spark.kernels.pdf_text import extract_pdf_text

    enc = (
        b"%PDF-1.7\n1 0 obj\n<< /Type /Catalog >>\nendobj\n"
        b"trailer\n<< /Root 1 0 R /Encrypt 2 0 R >>\n%%EOF"
    )
    with pytest.raises(ValueError, match="encrypted"):
        extract_pdf_text(enc)
    text, status, err = extract_document(enc)
    assert text == "" and status == "error:pdf-unsupported"
    assert "encrypted" in err


def _flate_pdf(*contents: bytes) -> bytes:
    """A PDF with one FlateDecode stream object per content."""
    import zlib

    objs = []
    for n, content in enumerate(contents, start=1):
        body = zlib.compress(content)
        objs.append(
            b"%d 0 obj << /Length %d /Filter /FlateDecode >>\nstream\n"
            % (n, len(body)) + body + b"\nendstream endobj\n"
        )
    return b"%PDF-1.4\n" + b"".join(objs) + b"%%EOF\n"


def test_flate_stream_past_the_document_budget_is_an_error_value():
    import re

    from open_ocr_spark.kernels.archive import MAX_DOC_BYTES
    from open_ocr_spark.kernels.dispatch import extract_document

    bomb = _flate_pdf(b"\x00" * (MAX_DOC_BYTES + 1))
    assert len(bomb) < 64 * 1024
    text, status, err = extract_document(bomb)
    assert (text, status, err) == (
        "", "error:pdf-unsupported", "pdf-unsupported:flate-too-large")
    # the fine class metrics.error_class_metrics recovers from the error
    fine = re.match(r"^(pdf-unsupported:[A-Za-z0-9,._-]+)", err).group(1)
    assert fine == "pdf-unsupported:flate-too-large"
    # at the budget it still extracts
    assert extract_document(_flate_pdf(b"\x00" * MAX_DOC_BYTES))[1] == "ok"


def test_flate_budget_is_shared_by_the_streams(monkeypatch):
    from open_ocr_spark.kernels import archive
    from open_ocr_spark.kernels.dispatch import extract_document

    monkeypatch.setattr(archive, "MAX_DOC_BYTES", 4096)
    half = b"BT (" + b"x" * 2100 + b") Tj ET"
    assert extract_document(_flate_pdf(half))[1] == "ok"
    assert extract_document(_flate_pdf(half, half))[1:] == (
        "error:pdf-unsupported", "pdf-unsupported:flate-too-large")


def test_long_strings_are_matched_without_per_byte_regex_state():
    # a greedy star over one byte per iteration keeps backtrack state
    # per character: ~170 bytes of memory per input byte
    import tracemalloc

    from open_ocr_spark.kernels.pdf_text import extract_pdf_text

    n = 2 << 20
    lit = b"%PDF-1.4\nBT (" + b"a" * n + b") Tj ET\n"
    arr = b"%PDF-1.4\nBT [" + b"(ab) -120 " * (n // 10) + b"] TJ ET\n"
    for doc, want in ((lit, "a" * n), (arr, "ab" * (n // 10))):
        tracemalloc.start()
        try:
            text = extract_pdf_text(doc)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert text == want
        assert peak < 32 << 20, peak
