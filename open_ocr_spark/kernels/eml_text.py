"""RFC 5322 / MIME e-mail (.eml) text extraction.

The reference's contract is "recover the text from the document bytes"
(/root/reference/ocr_engine.go:22-30 routes every payload through one
engine call); e-mail archives are a major crawl payload class (mailing-list
mirrors, .eml attachments, news gateways), so the dispatch gains an eml
branch alongside PDF/RTF/CFB/OOXML.

This is a from-scratch parser over the public specs only:

- RFC 5322: header block terminated by the first empty line; header
  folding (continuation lines start with WSP) unfolds to a single
  logical line.
- RFC 2047: encoded-words ``=?charset?Q|B?payload?=`` in Subject; in
  Q form ``_`` is SPACE and ``=XX`` is a hex octet; adjacent
  encoded-words separated only by whitespace join with the whitespace
  dropped.
- RFC 2045/2046: Content-Type with parameters (token or quoted-string),
  Content-Transfer-Encoding (7bit / 8bit / binary / quoted-printable /
  base64), multipart bodies delimited by ``--boundary`` lines with the
  ``--boundary--`` terminator.

Extracted-text contract (mirrors the .msg branch, doc_text.py): decoded
Subject, one blank line, then the decoded body with newlines normalized
to LF and a single trailing LF. For multipart messages the body is the
best text part: depth-first, ``text/plain`` preferred over
``text/html``; an HTML-only message falls back to the boilerplate-strip
extractor so the branch still honors the main-text contract.

Hostile-input caps: nesting depth and part count are bounded; an
oversized or unterminated structure becomes an error value upstream
(dispatch catches ValueError), never a hang.
"""

from __future__ import annotations

import base64
import binascii
import quopri
import re

_MAX_DEPTH = 8
_MAX_PARTS = 256

# RFC 5322 field-name: printable US-ASCII except colon.
_HEADER_LINE = re.compile(rb"^[!-9;-~]+:")

_ENCODED_WORD = re.compile(
    r"=\?([^?]+)\?([QqBb])\?([^?]*)\?="
)

def _codec(label: str) -> str:
    """Resolve a MIME charset label through the shared WHATWG label
    classes (htmltree.codec_for_label — one alias table for the whole
    engine); unknown labels degrade to latin-1 (every byte decodes,
    nothing raises), the same degradation contract as the HTML sniff."""
    from open_ocr_spark.kernels.htmltree import codec_for_label

    return codec_for_label(label.strip().strip('"')) or "latin-1"


def is_eml(raw: bytes) -> bool:
    """Cheap structural sniff: the payload starts with a header line and
    the header block (before the first empty line) carries the e-mail
    signature fields. HTML never matches — it starts with ``<`` /
    whitespace / a BOM, none of which form an RFC 5322 field-name."""
    if not raw or not _HEADER_LINE.match(raw[:998]):
        return False
    head = raw[:4096]
    # header block only: stop at the first blank line
    m = re.search(rb"\r?\n\r?\n", head)
    block = head[: m.start()] if m else head
    low = b"\n" + block.lower()
    if b"\nmime-version:" in low:
        return True
    return b"\nfrom:" in low and b"\nsubject:" in low


def _unfold_headers(block: bytes) -> list[tuple[str, str]]:
    """Unfold RFC 5322 folded headers into (lower-name, value) pairs."""
    lines: list[bytes] = []
    for ln in block.split(b"\n"):
        ln = ln.rstrip(b"\r")
        if ln[:1] in (b" ", b"\t") and lines:
            lines[-1] += b" " + ln.strip()
        else:
            lines.append(ln)
    out: list[tuple[str, str]] = []
    for ln in lines:
        if b":" not in ln:
            continue
        name, _, val = ln.partition(b":")
        out.append(
            (name.decode("ascii", "replace").strip().lower(),
             val.decode("latin-1").strip())
        )
    return out


def _header(headers: list[tuple[str, str]], name: str) -> str:
    for k, v in headers:
        if k == name:
            return v
    return ""


def _decode_encoded_words(value: str) -> str:
    """RFC 2047 Subject decoding. Whitespace between two adjacent
    encoded-words is dropped; all other text passes through verbatim."""
    out: list[str] = []
    pos = 0
    prev_was_word = False
    for m in _ENCODED_WORD.finditer(value):
        gap = value[pos:m.start()]
        charset, enc, payload = m.group(1), m.group(2).upper(), m.group(3)
        try:
            if enc == "Q":
                raw = quopri.decodestring(
                    payload.replace("_", " ").encode("ascii"), header=False
                )
            else:
                raw = base64.b64decode(
                    payload + "=" * (-len(payload) % 4), validate=True
                )
            decoded = raw.decode(_codec(charset), errors="replace")
        except (binascii.Error, ValueError):
            decoded = None  # malformed word passes through verbatim
        # RFC 2047 §6.2 drops whitespace only BETWEEN two successfully
        # decoded encoded-words; a malformed word keeps its separators
        if not (prev_was_word and decoded is not None
                and gap.strip() == ""):
            out.append(gap)
        out.append(decoded if decoded is not None else m.group(0))
        pos = m.end()
        prev_was_word = decoded is not None
    out.append(value[pos:])
    return "".join(out)


def _parse_content_type(value: str) -> tuple[str, dict[str, str]]:
    """``type/subtype; name=token; name="quoted"`` → (lower media type,
    lower-name param dict). Parameter values keep their case."""
    parts = value.split(";")
    ctype = parts[0].strip().lower() or "text/plain"
    params: dict[str, str] = {}
    for p in parts[1:]:
        if "=" not in p:
            continue
        name, _, val = p.partition("=")
        val = val.strip()
        if len(val) >= 2 and val[0] == '"' and val[-1] == '"':
            val = val[1:-1]
        params[name.strip().lower()] = val
    return ctype, params


def _decode_transfer(body: bytes, cte: str) -> bytes:
    cte = cte.strip().lower()
    if cte == "base64":
        compact = re.sub(rb"\s+", b"", body)
        try:
            return base64.b64decode(
                compact + b"=" * (-len(compact) % 4), validate=True
            )
        except (binascii.Error, ValueError) as exc:
            raise ValueError(f"bad base64 body: {exc}") from exc
    if cte == "quoted-printable":
        return quopri.decodestring(body, header=False)
    if cte in ("", "7bit", "8bit", "binary"):
        return body
    raise ValueError(f"unsupported content-transfer-encoding: {cte}")


def _split_message(raw: bytes) -> tuple[list[tuple[str, str]], bytes]:
    m = re.search(rb"\r?\n\r?\n", raw)
    if m is None:
        return _unfold_headers(raw), b""
    return _unfold_headers(raw[: m.start()]), raw[m.end():]


def _split_multipart(body: bytes, boundary: str) -> list[bytes]:
    """RFC 2046 §5.1.1: parts live between ``--boundary`` delimiter lines;
    text before the first delimiter is a preamble, text after
    ``--boundary--`` an epilogue — both dropped."""
    delim = b"--" + boundary.encode("latin-1")
    parts: list[bytes] = []
    current: list[bytes] | None = None
    for line in body.split(b"\n"):
        stripped = line.rstrip(b"\r")
        if stripped == delim or stripped == delim + b"--":
            if current is not None:
                chunk = b"\n".join(current)
                # the CRLF before the delimiter belongs to the delimiter
                if chunk.endswith(b"\r"):
                    chunk = chunk[:-1]
                parts.append(chunk)
            if stripped.endswith(b"--"):
                break
            current = []
        elif current is not None:
            current.append(line)
    if len(parts) > _MAX_PARTS:
        raise ValueError(f"multipart part count exceeds {_MAX_PARTS}")
    return parts


def _best_text(headers: list[tuple[str, str]], body: bytes,
               depth: int) -> tuple[str, str] | None:
    """Depth-first best text part of an entity: returns (kind, text)
    where kind is 'plain' or 'html', or None when the subtree holds no
    text part."""
    if depth > _MAX_DEPTH:
        raise ValueError(f"multipart nesting exceeds {_MAX_DEPTH}")
    ctype, params = _parse_content_type(_header(headers, "content-type"))
    if ctype.startswith("multipart/"):
        boundary = params.get("boundary", "")
        if not boundary:
            raise ValueError("multipart without boundary parameter")
        best: tuple[str, str] | None = None
        for part in _split_multipart(body, boundary):
            ph, pb = _split_message(part)
            got = _best_text(ph, pb, depth + 1)
            if got is None:
                continue
            if got[0] == "plain":
                return got
            if best is None:
                best = got
        return best
    if ctype in ("text/plain", "text/html"):
        decoded = _decode_transfer(
            body, _header(headers, "content-transfer-encoding")
        )
        text = decoded.decode(_codec(params.get("charset", "us-ascii")),
                              errors="replace")
        return ("plain" if ctype == "text/plain" else "html", text)
    return None


def _attachments(headers, body, depth: int, out: list) -> None:
    """Collect (media-type, decoded bytes) for every non-text leaf part
    — the attachment fallback when a message has no text part at all
    (a bare PDF/DOCX mail, common on list mirrors)."""
    if depth > _MAX_DEPTH:
        raise ValueError(f"multipart nesting exceeds {_MAX_DEPTH}")
    ctype, params = _parse_content_type(_header(headers, "content-type"))
    if ctype.startswith("multipart/"):
        boundary = params.get("boundary", "")
        if not boundary:
            raise ValueError("multipart without boundary parameter")
        for part in _split_multipart(body, boundary):
            ph, pb = _split_message(part)
            _attachments(ph, pb, depth + 1, out)
        return
    if not ctype.startswith("text/"):
        out.append((
            ctype,
            _decode_transfer(body,
                             _header(headers, "content-transfer-encoding")),
        ))


def extract_eml_text(raw: bytes, _dispatch_depth: int = 0) -> str:
    """Extract ``subject + blank line + body`` from an RFC 5322 message.

    The body is the best text part; a message with NO text part falls
    back to its attachments — each decoded attachment is routed through
    the normal format dispatch (PDF, Office, images, ...) and the first
    one that extracts wins. An attachment counts as one archive-nesting
    level (``_dispatch_depth`` threads the dispatch's depth budget):
    document attachments (PDF, Office, images, gzipped pages) extract,
    while ARCHIVE attachments (tar, generic zip) are nested archives by
    definition and hit the same clean depth error as a tar inside a tar
    — without this, a gzip+eml matryoshka would recurse at constant
    depth until the interpreter's limit. Raises ValueError on
    structurally broken
    messages (bad base64, missing boundary, over-deep nesting) or when
    nothing — body or attachment — yields text; the dispatch turns that
    into ``error:eml-unsupported``.
    """
    headers, body = _split_message(raw)
    subject = _decode_encoded_words(_header(headers, "subject"))
    got = _best_text(headers, body, 0)
    if got is None:
        atts: list = []
        _attachments(headers, body, 0, atts)
        # call-time import: dispatch imports this module at import time
        from open_ocr_spark.kernels.dispatch import (
            extract_document,
            routes_by_magic,
        )

        for ctype, data in atts:
            if not routes_by_magic(data):
                # never feed arbitrary binary to the HTML fallback —
                # only attachments the dispatch recognizes by magic
                continue
            text, status, _err = extract_document(
                data, _depth=_dispatch_depth + 1
            )
            if status == "ok":
                got = ("plain", text)
                break
        if got is None:
            raise ValueError("message has no text part"
                             + (f" and none of its {len(atts)} attachments"
                                " extracted" if atts else ""))
    kind, text = got
    if kind == "html":
        from open_ocr_spark.kernels.html_extract import extract_main_text

        text = extract_main_text(text)
    text = text.replace("\r\n", "\n").replace("\r", "\n").rstrip("\n")
    return f"{subject}\n\n{text}\n"


# ---------------------------------------------------------------------------
# Writer twin: deterministic .eml fixtures for the oracle queries and the
# property tests (same pattern as doc_text.build_msg / docx_text writers).
# ---------------------------------------------------------------------------

def _qp_encode(text: str, charset: str) -> bytes:
    return quopri.encodestring(text.encode(charset), quotetabs=False)


def _encode_word_q(text: str) -> str:
    raw = text.encode("utf-8")
    out = []
    for b in raw:
        ch = chr(b)
        if ch == " ":
            out.append("_")
        elif ch.isalnum() and b < 128:
            out.append(ch)
        else:
            out.append(f"={b:02X}")
    return f"=?utf-8?Q?{''.join(out)}?="


def _encode_word_b(text: str) -> str:
    return "=?utf-8?B?" + base64.b64encode(text.encode("utf-8")).decode() + "?="


def build_eml(subject: str, body: str, variant: int = 0) -> bytes:
    """Build one deterministic RFC 5322 message.

    variant 0: 7bit us-ascii-safe utf-8 plain body, plain subject.
    variant 1: quoted-printable windows-1252 body, RFC 2047 Q subject.
    variant 2: base64 utf-8 body, RFC 2047 B subject.
    variant 3: multipart/alternative — an HTML rendering first, then the
               text/plain part the extractor must prefer.
    """
    crlf = "\r\n"
    if variant in (0, 3) and not subject.isascii():
        # headers are 7-bit by spec: a non-ASCII subject always rides an
        # encoded-word, whatever the body variant
        subject = _encode_word_q(subject)
    if variant == 1:
        subj_hdr = _encode_word_q(subject)
        head = (
            f"From: fixtures@example.com{crlf}"
            f"To: corpus@example.com{crlf}"
            f"Subject: {subj_hdr}{crlf}"
            f"MIME-Version: 1.0{crlf}"
            f'Content-Type: text/plain; charset="windows-1252"{crlf}'
            f"Content-Transfer-Encoding: quoted-printable{crlf}{crlf}"
        )
        return head.encode("ascii") + _qp_encode(body, "cp1252")
    if variant == 2:
        subj_hdr = _encode_word_b(subject)
        payload = base64.b64encode(body.encode("utf-8")).decode()
        wrapped = crlf.join(
            payload[i:i + 60] for i in range(0, len(payload), 60)
        )
        head = (
            f"From: fixtures@example.com{crlf}"
            f"To: corpus@example.com{crlf}"
            f"Subject: {subj_hdr}{crlf}"
            f"MIME-Version: 1.0{crlf}"
            f'Content-Type: text/plain; charset="utf-8"{crlf}'
            f"Content-Transfer-Encoding: base64{crlf}{crlf}"
        )
        return head.encode("ascii") + wrapped.encode("ascii")
    if variant == 3:
        boundary = "=_fixture_boundary_7f3a"
        html = "<html><body><p>" + body.replace("\n", "</p><p>") \
            + "</p></body></html>"
        msg = (
            f"From: fixtures@example.com{crlf}"
            f"To: corpus@example.com{crlf}"
            f"Subject: {subject}{crlf}"
            f"MIME-Version: 1.0{crlf}"
            f'Content-Type: multipart/alternative; boundary="{boundary}"'
            f"{crlf}{crlf}"
            f"preamble is ignored{crlf}"
            f"--{boundary}{crlf}"
            f'Content-Type: text/html; charset="utf-8"{crlf}'
            f"Content-Transfer-Encoding: base64{crlf}{crlf}"
            + base64.b64encode(html.encode("utf-8")).decode() + crlf +
            f"--{boundary}{crlf}"
            f'Content-Type: text/plain; charset="utf-8"{crlf}'
            f"Content-Transfer-Encoding: quoted-printable{crlf}{crlf}"
        ).encode("ascii") + _qp_encode(body, "utf-8") + (
            f"{crlf}--{boundary}--{crlf}epilogue ignored{crlf}"
        ).encode("ascii")
        return msg
    head = (
        f"From: fixtures@example.com{crlf}"
        f"To: corpus@example.com{crlf}"
        f"Subject: {subject}{crlf}"
        f"MIME-Version: 1.0{crlf}"
        f'Content-Type: text/plain; charset="utf-8"{crlf}{crlf}'
    )
    return head.encode("ascii") + body.encode("utf-8")


# ---------------------------------------------------------------------------
# mbox container (the classic Unix mailbox family, "mboxrd" quoting): a
# mail archive is one file of messages, each introduced by a
# ``From sender date`` envelope line; body lines that would collide are
# stored quoted (">From ", ">>From ", ...) and unquoted on read.
# ---------------------------------------------------------------------------

_MBOX_ENVELOPE = re.compile(rb"^From \S+@\S+ ")
_MBOX_QUOTED = re.compile(rb"^(>+)From ")


def is_mbox(raw: bytes) -> bool:
    """An mbox starts with an envelope line ``From <addr> <date>`` — the
    space after "From" means it can never sniff as an RFC 5322 header
    line, and HTML can never produce it."""
    return bool(_MBOX_ENVELOPE.match(raw[:998]))


def split_mbox(raw: bytes) -> list[bytes]:
    """Split an mboxrd file into per-message RFC 5322 payloads: envelope
    lines dropped, one level of >From-quoting reversed, the blank line
    that separates messages trimmed."""
    messages: list[list[bytes]] = []
    for line in raw.split(b"\n"):
        stripped = line.rstrip(b"\r")
        if _MBOX_ENVELOPE.match(stripped):
            messages.append([])
            continue
        if not messages:
            raise ValueError("mbox content before the first envelope line")
        m = _MBOX_QUOTED.match(stripped)
        if m:
            line = line[1:]  # drop exactly one ">" (mboxrd read rule)
        messages[-1].append(line)
    if len(messages) > _MAX_PARTS:
        raise ValueError(f"mbox message count exceeds {_MAX_PARTS}")
    out = []
    for lines in messages:
        msg = b"\n".join(lines)
        out.append(msg.rstrip(b"\r\n") + b"\r\n")
    return out


def extract_mbox_text(raw: bytes, _dispatch_depth: int = 0) -> str:
    """Extract every message of an mbox; the single-document contract is
    the per-message extracts (each ``subject + blank + body + LF``)
    joined by one extra LF, so message boundaries stay visible as blank
    lines in the flat text."""
    msgs = split_mbox(raw)
    if not msgs:
        raise ValueError("mbox with no messages")
    return "\n".join(
        extract_eml_text(m, _dispatch_depth=_dispatch_depth) for m in msgs
    )


def build_mbox(messages: list[tuple[str, str, int]]) -> bytes:
    """Writer twin: one mboxrd file from (subject, body, variant) triples
    via build_eml, with proper >From-quoting of colliding body lines."""
    chunks: list[bytes] = []
    for subject, body, variant in messages:
        eml = build_eml(subject, body, variant=variant)
        quoted_lines = []
        for line in eml.split(b"\n"):
            if _MBOX_QUOTED.match(line.rstrip(b"\r")) or \
                    line.rstrip(b"\r").startswith(b"From "):
                line = b">" + line
            quoted_lines.append(line)
        chunks.append(
            b"From fixtures@example.com Thu Jan  1 00:00:00 2024\r\n"
            + b"\n".join(quoted_lines) + b"\r\n"
        )
    return b"".join(chunks)
