"""The dispatch's FORMATS table, row by row: a writer-twin payload routes
to its row and extracts, and a payload that passes the row's sniff but is
malformed comes back as that row's own ``error:<name>-unsupported``."""

import io
import json
import zipfile

import pytest

from open_ocr_spark.kernels.archive import build_tar, build_zip
from open_ocr_spark.kernels.dispatch import FORMATS, extract_document
from open_ocr_spark.kernels.doc_text import build_doc
from open_ocr_spark.kernels.docx_text import (
    build_docx,
    build_epub,
    build_odt,
    build_pptx,
    build_xlsx,
)
from open_ocr_spark.kernels.eml_text import build_eml, build_mbox
from open_ocr_spark.kernels.glyph_ocr import render_text_png
from open_ocr_spark.kernels.ipynb_text import build_ipynb
from open_ocr_spark.kernels.latex_text import build_latex
from open_ocr_spark.kernels.ps_text import build_ps
from open_ocr_spark.kernels.rtf_text import build_rtf
from open_ocr_spark.kernels.subtitle_text import build_srt, build_webvtt

PDF = b"%PDF-1.4\nstream\nBT (Line one) Tj ET\nendstream"
BAD_PDF = (b"%PDF-1.4\n1 0 obj << /Length 5 /Filter /FlateDecode >>\n"
           b"stream\nxxxxx\nendstream endobj")


def _bad_crc(container: bytes, member: str) -> bytes:
    """Re-store the zip uncompressed and flip one byte of ``member``: the
    directory (all the sniffs read) stays intact, reading the member
    fails its CRC."""
    src = zipfile.ZipFile(io.BytesIO(container))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
        for name in src.namelist():
            zf.writestr(name, src.read(name))
    raw = bytearray(buf.getvalue())
    raw[bytes(raw).index(src.read(member))] ^= 0xFF
    return bytes(raw)


def _tar_bad_checksum() -> bytes:
    raw = bytearray(build_tar([("a.html", b"<p>x</p>")]))
    raw[0] ^= 0xFF  # first name byte: the header checksum no longer holds
    return bytes(raw)


# row name -> (valid payload, sniff-passing malformed payload)
CASES = {
    "pdf": (PDF, BAD_PDF),
    "rtf": (build_rtf(["Rich text."]),
            b"{\\rtf1\\u" + b"9" * 5000 + b" x}"),  # over int()'s digit cap
    "doc": (build_doc([("Word body.", False)]),
            b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 600),
    "docx": (build_docx(["Word body."]),
             _bad_crc(build_docx(["x"]), "word/document.xml")),
    "odt": (build_odt(["Open body."]),
            _bad_crc(build_odt(["x"]), "content.xml")),
    "pptx": (build_pptx([["Slide body."]]),
             _bad_crc(build_pptx([["x"]]), "ppt/slides/slide1.xml")),
    "xlsx": (build_xlsx([[["cell"]]]),
             _bad_crc(build_xlsx([[["x"]]]), "xl/worksheets/sheet1.xml")),
    "epub": (build_epub([b"<p>Chapter body.</p>"]),
             _bad_crc(build_epub([b"<p>x</p>"]), "META-INF/container.xml")),
    "zip": (build_zip([("a.html", b"<p>Zipped page.</p>")]),
            b"PK\x03\x04 truncated local header"),
    "tar": (build_tar([("a.html", b"<p>Tarred page.</p>")]),
            _tar_bad_checksum()),
    "mbox": (build_mbox([("One", "First body.", 0)]),
             b"From a@b Mon\nFrom: a\nSubject: s\n"
             b"Content-Type: image/png\n\nxx\n"),
    "eml": (build_eml("Subject", "Mail body."),
            b"From: a@b\r\nSubject: s\r\nMIME-Version: 1.0\r\n"
            b"Content-Type: multipart/mixed\r\n\r\n"),
    "ipynb": (build_ipynb([("markdown", "Notebook body.")]),
              json.dumps({"nbformat": 4, "cells": [{}] * 10_001}).encode()),
    "latex": (build_latex(["LaTeX body."]),
              b"\\documentclass{article}\nno document body\n"),
    "ps": (build_ps([["PostScript body."]]), b"%!PS\n(never shown)"),
    "vtt": (build_webvtt([(0, 1000, "Cue body.")]),
            b"WEBVTT\n\n00:00.000 --> "),
    "srt": (build_srt([(0, 1000, "Cue body.")]),
            b"1\n00:00:01,000 --> 00:00:02,000\n"),
    "ocr": (render_text_png("OCR BODY"), b"\x89PNG\r\n\x1a\n broken pixels"),
}


def _row_of(payload: bytes) -> str:
    return next((f.name for f in FORMATS if f.sniff(payload)), "html")


def test_every_row_has_a_case():
    assert [f.name for f in FORMATS] == list(CASES)


@pytest.mark.parametrize("name", [f.name for f in FORMATS])
def test_row_extracts_valid_and_fails_malformed_as_its_class(name):
    valid, malformed = CASES[name]
    assert _row_of(valid) == name
    text, status, err = extract_document(valid)
    assert status == "ok" and text.strip(), (status, err)

    assert _row_of(malformed) == name
    text, status, err = extract_document(malformed)
    assert (text, status) == ("", f"error:{name}-unsupported"), err
    assert err


@pytest.mark.parametrize("build, name", [(build_zip, "zip"),
                                         (build_tar, "tar")])
def test_failing_member_fails_the_archive(build, name):
    payload = build([("ok.html", b"<p>Fine.</p>"), ("bad.pdf", BAD_PDF)])
    text, status, err = extract_document(payload)
    assert (text, status) == ("", f"error:{name}-member")
    assert err.startswith("bad.pdf: pdf-unsupported:")


def test_unknown_payload_falls_through_to_html():
    assert _row_of(b"<p>plain page</p>") == "html"
    assert extract_document(b"<p>plain page</p>")[:2] == ("plain page", "ok")
