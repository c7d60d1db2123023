"""RFC 5322 / MIME .eml extraction: writer-twin round-trips, header
machinery, multipart selection, error values, and dispatch routing."""

import base64

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from open_ocr_spark.kernels.dispatch import extract_document
from open_ocr_spark.kernels.eml_text import (
    _decode_encoded_words,
    _parse_content_type,
    _split_multipart,
    _unfold_headers,
    build_eml,
    extract_eml_text,
    is_eml,
)

SUBJ = "Re: café item 3"
BODY = "Body line one café.\nSecond line — dash."


@pytest.mark.parametrize("variant", [0, 1, 2, 3])
def test_roundtrip_all_variants(variant):
    raw = build_eml(SUBJ, BODY, variant=variant)
    assert is_eml(raw)
    assert extract_eml_text(raw) == f"{SUBJ}\n\n{BODY}\n"


@pytest.mark.parametrize("variant", [0, 1, 2, 3])
def test_dispatch_routes_eml(variant):
    text, status, err = extract_document(build_eml(SUBJ, BODY, variant=variant))
    assert status == "ok" and err == ""
    assert text == f"{SUBJ}\n\n{BODY}\n"


def test_html_never_sniffs_as_eml():
    assert not is_eml(b"<!DOCTYPE html><html><body>From: x</body></html>")
    assert not is_eml(b"  <html>...")
    # a colon-ish text line without the mail signature fields
    assert not is_eml(b"Warning: do not do this\n\nplain text body")


def test_header_unfolding():
    hdrs = _unfold_headers(
        b"Subject: a long\r\n folded\r\n\tsubject\r\nFrom: x@y"
    )
    assert ("subject", "a long folded subject") in hdrs
    assert ("from", "x@y") in hdrs


def test_encoded_words_q_and_b_and_adjacency():
    assert _decode_encoded_words("=?utf-8?Q?caf=C3=A9_x?=") == "café x"
    b64 = base64.b64encode("№5".encode()).decode()
    assert _decode_encoded_words(f"=?utf-8?B?{b64}?=") == "№5"
    # whitespace between adjacent encoded-words is dropped (RFC 2047 §6.2)
    two = "=?utf-8?Q?ab?= =?utf-8?Q?cd?="
    assert _decode_encoded_words(two) == "abcd"
    # ...but kept between an encoded-word and plain text
    assert _decode_encoded_words("=?utf-8?Q?ab?= plain") == "ab plain"
    # malformed word passes through verbatim
    assert _decode_encoded_words("=?utf-8?B?***?=") == "=?utf-8?B?***?="


def test_content_type_params():
    ctype, params = _parse_content_type(
        'Multipart/Alternative; boundary="B=_x"; charset=UTF-8'
    )
    assert ctype == "multipart/alternative"
    assert params["boundary"] == "B=_x"
    assert params["charset"] == "UTF-8"


def test_multipart_preamble_epilogue_dropped():
    body = (b"preamble\r\n--B\r\npart one\r\n--B\r\npart two\r\n--B--\r\n"
            b"epilogue")
    assert _split_multipart(body, "B") == [b"part one", b"part two"]


def test_multipart_prefers_plain_over_html():
    raw = build_eml("s", "plain wins", variant=3)
    assert extract_eml_text(raw) == "s\n\nplain wins\n"


def test_html_only_falls_back_to_main_text():
    raw = (b"From: a@b\r\nSubject: Hi\r\nMIME-Version: 1.0\r\n"
           b'Content-Type: text/html; charset="utf-8"\r\n\r\n'
           b"<html><body><p>Hello world paragraph.</p></body></html>")
    assert extract_eml_text(raw) == "Hi\n\nHello world paragraph.\n"


def test_error_values():
    no_boundary = (b"From: a@b\r\nSubject: x\r\nMIME-Version: 1.0\r\n"
                   b"Content-Type: multipart/mixed\r\n\r\nbody")
    _, status, err = extract_document(no_boundary)
    assert status == "error:eml-unsupported" and "boundary" in err

    bad_cte = (b"From: a@b\r\nSubject: x\r\nMIME-Version: 1.0\r\n"
               b"Content-Type: text/plain\r\n"
               b"Content-Transfer-Encoding: uuencode\r\n\r\nx")
    _, status, err = extract_document(bad_cte)
    assert status == "error:eml-unsupported" and "uuencode" in err

    no_text = (b"From: a@b\r\nSubject: x\r\nMIME-Version: 1.0\r\n"
               b"Content-Type: image/png\r\n\r\n\x89PNG")
    _, status, _ = extract_document(no_text)
    assert status == "error:eml-unsupported"


def test_nesting_cap_is_an_error_value():
    # build a 10-deep multipart tower: depth cap (8) must trip
    inner = (b"Content-Type: text/plain\r\n\r\ndeep")
    for i in range(10):
        b = f"L{i}".encode()
        inner = (b"Content-Type: multipart/mixed; boundary=" + b
                 + b"\r\n\r\n--" + b + b"\r\n" + inner
                 + b"\r\n--" + b + b"--\r\n")
    raw = b"From: a@b\r\nSubject: s\r\nMIME-Version: 1.0\r\n" + inner
    with pytest.raises(ValueError, match="nesting"):
        extract_eml_text(raw)


_CP1252_SAFE = st.text(
    alphabet=st.sampled_from(
        "abcdefghijklmnopqrstuvwxyzABC0123456789 .,!?éàü—'\"()"
    ),
    min_size=1, max_size=80,
).map(lambda s: s.strip()).filter(lambda s: s and s.isprintable())


@settings(max_examples=40, deadline=None)
@given(subj=_CP1252_SAFE, body=_CP1252_SAFE, variant=st.integers(0, 3))
def test_property_roundtrip(subj, body, variant):
    raw = build_eml(subj, body, variant=variant)
    assert extract_eml_text(raw) == f"{subj}\n\n{body}\n"


# ---------------------------------------------------------------------------
# mbox container
# ---------------------------------------------------------------------------

from open_ocr_spark.kernels.eml_text import (  # noqa: E402
    build_mbox,
    extract_mbox_text,
    is_mbox,
    split_mbox,
)


def _msgs():
    return [
        ("Msg 0", "Body café.\nFrom here the quoting must survive.", 0),
        ("Msg 1", ">From already-quoted line.\ntail.", 1),
        ("Msg 2", "plain body", 3),
    ]


def test_mbox_roundtrip_with_from_quoting():
    raw = build_mbox(_msgs())
    assert is_mbox(raw)
    assert len(split_mbox(raw)) == 3
    expect = "\n".join(f"{s}\n\n{b}\n" for s, b, _ in _msgs())
    assert extract_mbox_text(raw) == expect


def test_mbox_dispatch_routes():
    text, status, err = extract_document(build_mbox(_msgs()))
    assert status == "ok" and err == ""
    assert text.startswith("Msg 0\n\n")


def test_mbox_sniff_rejects_prose_and_eml():
    assert not is_mbox(b"From here on, the text continues\nplain")
    assert not is_mbox(build_eml("s", "b", variant=0))
    # and an eml never sniffs as mbox nor vice versa
    assert not is_eml(build_mbox(_msgs()))


def test_mbox_error_values():
    # a structurally broken member message fails the whole archive as a
    # value, never an exception
    broken = (b"From x@y Thu Jan  1 00:00:00 2024\r\n"
              b"Subject: s\r\nContent-Type: text/plain\r\n"
              b"Content-Transfer-Encoding: base64\r\n\r\n!!notb64!!\r\n")
    _, status, err = extract_document(broken)
    assert status == "error:mbox-unsupported" and "base64" in err
    # headerless member degrades to text/plain per RFC 2045 defaulting
    plain = (b"From x@y Thu Jan  1 00:00:00 2024\r\n"
             b"not-a-header\r\n\r\nbody\r\n")
    text, status, _ = extract_document(plain)
    # "not-a-header" sits in the header block (before the blank line) but
    # isn't a header field, so it is dropped; subject defaults empty
    assert status == "ok" and text == "\n\nbody\n"


@settings(max_examples=25, deadline=None)
@given(bodies=st.lists(_CP1252_SAFE, min_size=1, max_size=4),
       variant=st.integers(0, 3))
def test_mbox_property_roundtrip(bodies, variant):
    msgs = [(f"S{k}", b, variant) for k, b in enumerate(bodies)]
    raw = build_mbox(msgs)
    expect = "\n".join(f"{s}\n\n{b}\n" for s, b, _ in msgs)
    assert extract_mbox_text(raw) == expect


# ---------------------------------------------------------------------------
# attachment fallback: a message with NO text part extracts its
# attachment through the normal dispatch
# ---------------------------------------------------------------------------

def _attachment_mail(payload: bytes, ctype: str) -> bytes:
    b64 = base64.b64encode(payload).decode()
    wrapped = "\r\n".join(b64[i:i + 60] for i in range(0, len(b64), 60))
    return (
        "From: a@b\r\nSubject: With attachment\r\nMIME-Version: 1.0\r\n"
        'Content-Type: multipart/mixed; boundary="BB"\r\n\r\n'
        "--BB\r\n"
        f"Content-Type: {ctype}\r\n"
        "Content-Transfer-Encoding: base64\r\n\r\n"
        f"{wrapped}\r\n"
        "--BB--\r\n"
    ).encode()


def test_docx_attachment_extracts():
    from open_ocr_spark.kernels.docx_text import build_docx

    raw = _attachment_mail(
        build_docx(["Attached body."]),
        "application/vnd.openxmlformats-officedocument"
        ".wordprocessingml.document",
    )
    assert extract_eml_text(raw) == "With attachment\n\nAttached body.\n"


def test_text_part_still_beats_attachments():
    from open_ocr_spark.kernels.docx_text import build_docx

    b64 = base64.b64encode(build_docx(["Attached."])).decode()
    raw = (
        "From: a@b\r\nSubject: s\r\nMIME-Version: 1.0\r\n"
        'Content-Type: multipart/mixed; boundary="BB"\r\n\r\n'
        "--BB\r\nContent-Type: text/plain\r\n\r\nInline body.\r\n"
        "--BB\r\nContent-Type: application/octet-stream\r\n"
        "Content-Transfer-Encoding: base64\r\n\r\n"
        f"{b64}\r\n--BB--\r\n"
    ).encode()
    assert extract_eml_text(raw) == "s\n\nInline body.\n"


def test_unextractable_attachment_is_error_value():
    raw = _attachment_mail(b"\x89PNG\r\n\x1a\n broken pixels",
                           "application/octet-stream")
    _, status, err = extract_document(raw)
    assert status == "error:eml-unsupported" and "attachments" in err


def _glyph_pixels(text: str):
    from open_ocr_spark.dataops.multimodal import decode_pixels
    from open_ocr_spark.kernels.glyph_ocr import render_text_png

    return decode_pixels(render_text_png(text))


def _ps_attachment() -> bytes:
    from open_ocr_spark.kernels.ps_text import build_ps

    return build_ps([["Attached PostScript."]])


def _bmp_attachment() -> bytes:
    from open_ocr_spark.dataops.multimodal import encode_bmp24

    return encode_bmp24(_glyph_pixels("BMP SCAN"))


def _ppm_attachment() -> bytes:
    from open_ocr_spark.dataops.multimodal import encode_ppm

    return encode_ppm(_glyph_pixels("PPM SCAN"))


# The attachment gate is the dispatch's own magic-byte rows, so every
# payload the dispatch routes by magic may extract from a text-less mail:
# PostScript, BMP and PPM rasters (routed to OCR), and a PDF whose header
# lacks the version dash (is_pdf checks "%PDF" alone).
@pytest.mark.parametrize("make, expected", [
    (_ps_attachment, "Attached PostScript."),
    (_bmp_attachment, "BMP SCAN"),
    (_ppm_attachment, "PPM SCAN"),
    (lambda: b"%PDF1.4\nstream\nBT (Dashless header.) Tj ET\nendstream",
     "Dashless header."),
])
def test_magic_routed_attachment_extracts(make, expected):
    raw = _attachment_mail(make(), "application/octet-stream")
    assert extract_document(raw) == (
        f"With attachment\n\n{expected}\n", "ok", "")


# ---------------------------------------------------------------------------
# differential vs the INDEPENDENT stdlib email package: subject and body
# decoding must agree on every writer-twin variant
# ---------------------------------------------------------------------------

def _stdlib_subject_body(raw: bytes):
    import email
    import email.header
    import email.policy

    msg = email.message_from_bytes(raw, policy=email.policy.default)
    subject = str(msg["subject"] or "")
    part = msg.get_body(preferencelist=("plain",))
    body = part.get_content() if part is not None else None
    return subject, body


@settings(max_examples=60, deadline=None)
@given(subj=_CP1252_SAFE, body=_CP1252_SAFE, variant=st.integers(0, 3))
def test_differential_against_stdlib_email(subj, body, variant):
    raw = build_eml(subj, body, variant=variant)
    std_subj, std_body = _stdlib_subject_body(raw)
    ours = extract_eml_text(raw)
    assert std_subj == subj
    # stdlib normalizes the trailing newline of text bodies; compare
    # modulo that, the same normalization extract_eml_text applies
    assert std_body is not None
    assert std_body.replace("\r\n", "\n").rstrip("\n") == body.rstrip("\n")
    assert ours == f"{subj}\n\n{body}\n"
