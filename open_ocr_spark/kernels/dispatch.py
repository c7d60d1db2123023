"""Per-document extraction dispatch: engine factory + format table +
error-as-value, as one pure function the Arrow batch kernel maps over.

Reference parity:
- Engine factory/dispatch (/root/reference/ocr_engine.go:22-30, default-mock
  on unknown at :58-60) → resolve_engine + the engine checks below.
- Format routing: where the reference hands every payload to tesseract,
  the tesseract engine here picks one extractor per document from
  ``FORMATS``, one ordered table of (name, sniff, extract) rows. The first
  row whose sniff matches extracts; a ValueError from it becomes
  ``error:<name>-unsupported``; a payload no row claims is HTML (main
  text, or markdown under output_format=md). gzip is unwrapped ahead of
  the table: it is a transparent encoding, not a format. Adding a format
  means adding one row.
- Chain router (/root/reference/ocr_request.go:21-31): stages execute in
  REVERSE list order (pop-from-end); the terminal hop is always the engine
  ("decode-ocr", rabbit_config.go:25). Every stage folds into the engine:
  identity is a no-op (preprocessor.go:11-16), convert-pdf is the pdf row
  (which routes PDFs with or without it), stroke-width-transform is the
  HTML branch's ``aggressive`` flag. The chain is still validated: an
  unknown stage is ``error:preprocessor`` naming the first unknown stage
  in execution order.
- Error-as-value (/root/reference/ocr_rpc_worker.go:163-190): a failing
  document NEVER fails the job; the reference embeds "Error ..." in the
  text and still replies — we do better per SURVEY §2.A17: clean
  ``status``/``error`` columns, text left empty.
- Lang gate: the reference passes ``-l lang`` through to tesseract
  (tesseract_engine.go:65-75,93-95); unsupported languages fail there. We
  gate on the apiary enum (apiary.apib:78-111) up front.

Structured-output mode (hOCR recast, tesseract_engine.go:194-262): when
engine_args.config_vars["tessedit_create_hocr"]=="1", the extracted text is
wrapped into a deterministic span-per-paragraph JSON structure instead of
plain text.
"""

from __future__ import annotations

import json
import re
from functools import partial
from typing import Callable, NamedTuple

from open_ocr_spark.kernels.archive import (
    GZIP_MAGIC,
    MAX_DOC_BYTES,
    ZIP_MAGIC,
    TooLarge,
    gunzip_payload,
    is_tar,
    split_tar,
    split_zip,
)
from open_ocr_spark.kernels.doc_text import extract_cfb_text, is_cfb
from open_ocr_spark.kernels.docx_text import (
    extract_docx_text,
    extract_epub_text,
    extract_odt_text,
    extract_pptx_text,
    extract_xlsx_text,
    is_docx,
    is_epub,
    is_odt,
    is_pptx,
    is_xlsx,
)
from open_ocr_spark.kernels.eml_text import (
    extract_eml_text,
    extract_mbox_text,
    is_eml,
    is_mbox,
)
from open_ocr_spark.kernels.glyph_ocr import ocr_image
from open_ocr_spark.kernels.html_extract import extract_main_text
from open_ocr_spark.kernels.html_markdown import html_to_markdown
from open_ocr_spark.kernels.ipynb_text import extract_ipynb_text, is_ipynb
from open_ocr_spark.kernels.latex_text import extract_latex_text, is_latex
from open_ocr_spark.kernels.mock import MOCK_ENGINE_RESPONSE
from open_ocr_spark.kernels.options import (
    ENGINE_GO_TESSERACT,
    ENGINE_MOCK,
    ENGINE_TESSERACT,
    KNOWN_PREPROCESSORS,
    SUPPORTED_LANGS,
    execution_order,
    parse_engine_args,
    resolve_engine,
    swt_aggressive,
)
from open_ocr_spark.kernels.pdf_text import extract_pdf_text, is_pdf
from open_ocr_spark.kernels.ps_text import extract_ps_text, is_ps
from open_ocr_spark.kernels.rtf_text import extract_rtf_text, is_rtf
from open_ocr_spark.kernels.subtitle_text import (
    extract_srt_text,
    extract_webvtt_text,
    is_srt,
    is_webvtt,
)

STATUS_OK = "ok"

_PPM_HEADER = re.compile(rb"P6\s+\d+\s+\d+\s+255\s")


class _Hop(NamedTuple):
    """What a container row needs to route its contents back through
    extract_document: the document's nesting depth and its options
    (lang, engine, engine_args, preprocessors, preprocessor_args)."""

    depth: int
    options: tuple


class _MemberFailed(Exception):
    """An archive member extracted to an error value; the archive fails
    as ``error:<name>-member`` (deliberately not a ValueError)."""


class Format(NamedTuple):
    name: str  # status class: error:<name>-unsupported
    sniff: Callable[[bytes], bool]
    extract: Callable[[bytes, _Hop], str]
    magic: bool  # sniffed by leading magic bytes rather than by structure


def _plain(extract: Callable[[bytes], str]) -> Callable[[bytes, _Hop], str]:
    return lambda payload, hop: extract(payload)


def _is_image_payload(payload: bytes) -> bool:
    """Raster-image detection for OCR routing. PNG/GIF/JPEG magics cannot
    occur in text; BMP and P6 get stricter checks (reserved NULs /
    header shape) so a PAGE whose text merely starts with "BM" or "P6"
    still routes to the HTML branch."""
    return (
        payload[:8] == b"\x89PNG\r\n\x1a\n"
        or payload[:6] in (b"GIF87a", b"GIF89a")
        or payload[:2] == b"\xff\xd8"
        or (payload[:2] == b"BM" and len(payload) >= 54
            and payload[6:10] == b"\x00\x00\x00\x00")
        or bool(_PPM_HEADER.match(payload[:40]))
    )


# Cheap first-byte gates in front of the structural text-format sniffs:
# ordinary pages start with '<' and never pay for the full sniff.

def _eml_sniff(payload: bytes) -> bool:
    # an RFC 5322 header-name char opens the payload ('<' never does)
    return (bool(payload) and 33 <= payload[0] <= 126
            and payload[0] != ord("<") and is_eml(payload))


def _ipynb_sniff(payload: bytes) -> bool:
    # a JSON object, optionally after whitespace
    return (payload[:1] in (b"{", b" ", b"\t", b"\r", b"\n")
            and is_ipynb(payload))


def _latex_sniff(payload: bytes) -> bool:
    # a TeX control or comment char is the first non-blank byte
    return payload[:64].lstrip()[:1] in (b"\\", b"%") and is_latex(payload)


def _vtt_sniff(payload: bytes) -> bool:
    # the WEBVTT magic's 'W', past the UTF-8 BOM the spec permits
    head = payload[3:4] if payload[:3] == b"\xef\xbb\xbf" else payload[:1]
    return head == b"W" and is_webvtt(payload)


def _srt_sniff(payload: bytes) -> bool:
    # a SubRip cue-index digit is the first non-blank byte (past a BOM)
    head = payload[3:19] if payload[:3] == b"\xef\xbb\xbf" else payload[:16]
    return head.lstrip()[:1].isdigit() and is_srt(payload)


def _archive_text(split, payload: bytes, hop: _Hop) -> str:
    """Archive rows (zip, tar): every member routes back through
    extract_document with the row's options, one level down; the text is
    the member texts in order. One recursion level only — an archive
    inside an archive is an error value. Members render plain — the outer
    structured switch (if any) wraps the joined text once."""
    if hop.depth >= 1:
        raise ValueError("nested archive (depth > 1)")
    members = split(payload)
    if not members:
        raise ValueError("archive has no file members")
    lang, engine, engine_args, preprocessors, preprocessor_args = hop.options
    member_args = dict(engine_args or {})
    cv = dict(member_args.get("config_vars") or {})
    cv.pop("tessedit_create_hocr", None)
    if cv:
        member_args["config_vars"] = cv
    else:
        member_args.pop("config_vars", None)
    texts = []
    for name, data in members:
        t, s, e = extract_document(
            data, lang, engine, member_args or None,
            preprocessors, preprocessor_args, _depth=hop.depth + 1,
        )
        if s != STATUS_OK:
            raise _MemberFailed(f"{name}: {e or s}")
        texts.append(t)
    return "\n".join(texts)


def _tar_text(payload: bytes, hop: _Hop) -> str:
    if not is_tar(payload):
        raise ValueError("ustar magic with invalid header checksum")
    return _archive_text(split_tar, payload, hop)


# The routing order. Office/EPUB containers sit ahead of the generic zip
# row (all share the PK magic); mail attachments recurse with default
# options and one more level of depth (eml_text threads it).
FORMATS: tuple[Format, ...] = (
    Format("pdf", is_pdf, _plain(extract_pdf_text), True),
    Format("rtf", is_rtf, _plain(extract_rtf_text), True),
    Format("doc", is_cfb, _plain(extract_cfb_text), True),
    Format("docx", is_docx, _plain(extract_docx_text), True),
    Format("odt", is_odt, _plain(extract_odt_text), True),
    Format("pptx", is_pptx, _plain(extract_pptx_text), True),
    Format("xlsx", is_xlsx, _plain(extract_xlsx_text), True),
    Format("epub", is_epub, _plain(extract_epub_text), True),
    Format("zip", lambda p: p[:4] == ZIP_MAGIC,
           partial(_archive_text, split_zip), True),
    Format("tar", lambda p: len(p) >= 512 and p[257:262] == b"ustar",
           _tar_text, True),
    Format("mbox", lambda p: p[:5] == b"From " and is_mbox(p),
           lambda p, hop: extract_mbox_text(p, _dispatch_depth=hop.depth),
           False),
    Format("eml", _eml_sniff,
           lambda p, hop: extract_eml_text(p, _dispatch_depth=hop.depth),
           False),
    Format("ipynb", _ipynb_sniff, _plain(extract_ipynb_text), False),
    Format("latex", _latex_sniff, _plain(extract_latex_text), False),
    Format("ps", is_ps, _plain(extract_ps_text), True),
    Format("vtt", _vtt_sniff, _plain(extract_webvtt_text), False),
    Format("srt", _srt_sniff, _plain(extract_srt_text), False),
    Format("ocr", _is_image_payload, _plain(ocr_image), True),
)


def routes_by_magic(data: bytes) -> bool:
    """True iff the bytes are gzip or match a magic-byte row of FORMATS —
    the only attachments the mail fallback hands to the dispatch, so
    arbitrary binary never reaches the HTML branch."""
    return data[:2] == GZIP_MAGIC or any(
        f.sniff(data) for f in FORMATS if f.magic
    )


def _spans_json(text: str) -> str:
    """hOCR-recast structured output: one span per paragraph with
    deterministic char offsets into the plain-text form."""
    spans = []
    offset = 0
    for i, para in enumerate(text.split("\n\n")) if text else []:
        spans.append(
            {"id": i, "start": offset, "end": offset + len(para), "text": para}
        )
        offset += len(para) + 2
    return json.dumps({"spans": spans}, ensure_ascii=False, sort_keys=True)


def _apply_charset(payload: bytes, args) -> bytes | str:
    """Transport-layer charset: a valid ``charset`` config var decodes
    the HTML payload HERE (errors=replace, matching the sniff's
    degradation contract) so the downstream parser receives str and
    never re-sniffs; absent/unknown labels pass the bytes through to the
    normal BOM/meta sniff."""
    codec = args.charset_override
    if codec is None:
        return payload
    return payload.decode(codec, errors="replace")


def extract_document(
    html: bytes | None,
    lang: str | None = None,
    engine=None,
    engine_args: dict | str | None = None,
    preprocessors: list[str] | None = None,
    preprocessor_args: dict | None = None,
    _depth: int = 0,
) -> tuple[str, str, str]:
    """Extract one document. Returns (extracted_text, status, error).

    status is 'ok' or 'error:<class>'; error holds the message. Never
    raises: every failure becomes a value (A17). ``engine_args`` may be
    the map's JSON encoding (sources.py's engine_args_json); JSON that is
    not an object is an ``error:engine-args`` value like any bad map.
    """
    try:
        if _depth > 4:
            # structural backstop for every container-hop path (archive
            # members, mail attachments): a crafted matryoshka becomes a
            # clean error value long before the interpreter's recursion
            # limit could surface as error:internal
            return "", "error:too-deep", f"container nesting depth {_depth}"

        engine_name = resolve_engine(engine)

        if engine_name == ENGINE_MOCK:
            # mock ignores payload entirely (mock_engine.go:7-9)
            return MOCK_ENGINE_RESPONSE, STATUS_OK, ""

        if engine_name == ENGINE_GO_TESSERACT:
            # declared but factory returns nil (ocr_engine.go:22-30):
            # treated as an unsupported-engine error value
            return "", "error:engine", "no engine impl for go_tesseract"

        assert engine_name == ENGINE_TESSERACT

        try:
            if isinstance(engine_args, str):
                # JSONDecodeError is a ValueError; nesting past the
                # interpreter's depth limit raises RecursionError
                engine_args = json.loads(engine_args)
                if not isinstance(engine_args, dict):
                    raise ValueError("engine args must be a JSON object, "
                                     f"not {type(engine_args).__name__}")
            args = parse_engine_args(engine_args)
        except (ValueError, RecursionError) as exc:
            return "", "error:engine-args", str(exc)

        if args.lang and args.lang not in SUPPORTED_LANGS:
            return "", "error:lang", f"unsupported lang: {args.lang}"
        if lang is not None and lang != "" and lang not in SUPPORTED_LANGS \
                and args.lang == "":
            # row-level lang outside the enum and no explicit override
            return "", "error:lang", f"unsupported lang: {lang}"

        if html is None or len(html) == 0:
            return "", "error:empty", "empty document payload"
        if len(html) > MAX_DOC_BYTES:
            return (
                "",
                "error:too-large",
                f"payload {len(html)} bytes exceeds {MAX_DOC_BYTES}",
            )

        unknown = [s for s in execution_order(preprocessors)
                   if s not in KNOWN_PREPROCESSORS]
        if unknown:
            return "", "error:preprocessor", f"unknown preprocessor: {unknown[0]}"

        aggressive = swt_aggressive(preprocessor_args)
        payload = bytes(html)

        if payload[:2] == GZIP_MAGIC:
            # standalone gzip file (page.html.gz, corpus.tar.gz): a
            # transparent encoding, not a format — decompress and route
            # whatever is inside (r5, kernels/archive.py). The cap is
            # MAX_DOC_BYTES, the SAME per-document bound raw payloads
            # get: a .gz must not smuggle a document past the budget.
            try:
                payload = gunzip_payload(payload, cap=MAX_DOC_BYTES)
            except TooLarge:
                return (
                    "",
                    "error:too-large",
                    f"gunzipped payload exceeds {MAX_DOC_BYTES}",
                )
            except ValueError as exc:
                return "", "error:gzip-unsupported", str(exc)

        hop = _Hop(_depth, (lang, engine, engine_args, preprocessors,
                            preprocessor_args))
        for fmt in FORMATS:
            if fmt.sniff(payload):
                try:
                    text = fmt.extract(payload, hop)
                except _MemberFailed as exc:
                    return "", f"error:{fmt.name}-member", str(exc)
                except ValueError as exc:
                    return "", f"error:{fmt.name}-unsupported", str(exc)
                break
        else:
            render = html_to_markdown if args.markdown_output \
                else extract_main_text
            text = render(_apply_charset(payload, args), aggressive=aggressive)

        if args.structured_output:
            return _spans_json(text), STATUS_OK, ""
        return text, STATUS_OK, ""

    except Exception as exc:  # last-resort guard: never fail the batch
        return "", "error:internal", f"{type(exc).__name__}: {exc}"
