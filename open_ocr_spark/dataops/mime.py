"""Content-type sniffing over binary payload columns, pure Catalyst.

A raw-crawl corpus arrives as opaque bytes; partitioning it by real
content type (not the server's often-wrong Content-Type header) is the
first routing step before extraction, media decode, or discard.  The
magic-byte table below mirrors exactly the containers the engine's
kernels understand (kernels/dispatch.py routing, dataops/multimodal.py
codecs, sources.py WARC), so `sniff_mime(payload)` predicts which
branch a payload will take without running any of them.

Everything is a single when-chain over hex prefixes of the first 16
bytes — JVM-side, codegen'd, zero Python, zero shuffles.  The
text/html vs text/plain tail mirrors WHATWG sniffing loosely: a tag
marker in the first 256 bytes wins; printable-looking bytes (no NUL in
the prefix) fall back to text/plain; anything else is octet-stream.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (mime, hex prefix at offset 0) — longest-prefix-first within a family
_PREFIXES = (
    ("application/pdf", "255044462D"),  # %PDF-
    ("application/rtf", "7B5C727466"),  # {\rtf
    ("application/zip", "504B0304"),  # PK\x03\x04 (docx/odt/jar/epub)
    ("image/png", "89504E470D0A1A0A"),
    ("image/gif", "474946383761"),  # GIF87a
    ("image/gif", "474946383961"),  # GIF89a
    ("image/jpeg", "FFD8FF"),
    ("image/bmp", "424D"),
    ("video/webm", "1A45DFA3"),  # EBML (webm/mkv)
    ("application/warc", "574152432F"),  # WARC/
    ("application/gzip", "1F8B"),
)


def sniff_mime_col(payload: Column) -> Column:
    """MIME type of a binary payload by magic bytes (see module doc)."""
    head = F.hex(F.substring(payload, 1, 16))
    expr = None
    for mime, prefix in _PREFIXES:
        cond = head.startswith(prefix)
        expr = F.when(cond, mime) if expr is None else expr.when(cond, mime)
    # offset magics: RIFF containers and MP4 brand boxes
    riff = F.hex(F.substring(payload, 1, 4)) == "52494646"
    fourcc = F.hex(F.substring(payload, 9, 4))
    expr = expr.when(riff & (fourcc == "57415645"), "audio/wav")  # WAVE
    expr = expr.when(riff & (fourcc == "41564920"), "video/x-msvideo")
    expr = expr.when(
        F.hex(F.substring(payload, 5, 4)) == "66747970", "video/mp4"  # ftyp
    )
    # text tail: tag marker -> html; NUL-free 256-byte prefix -> plain
    text_head = F.lower(F.decode(F.substring(payload, 1, 256), "ISO-8859-1"))
    expr = expr.when(
        text_head.contains("<html") | text_head.contains("<!doctype html"),
        "text/html",
    )
    has_nul = F.locate("\x00", F.decode(F.substring(payload, 1, 256), "ISO-8859-1")) > 0
    expr = expr.when(
        (F.octet_length(payload) > 0) & ~has_nul, "text/plain"
    )
    return expr.otherwise(F.lit("application/octet-stream")).alias("mime")
