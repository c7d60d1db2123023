"""Text of the zip-packaged document formats: DOCX (OOXML
WordprocessingML, ECMA-376), and below it the ODT, PPTX, XLSX and EPUB
siblings.

Extends the document-conversion branch of the extraction kernel the
same way the PDF branch does (kernels/pdf_text.py; reference parity:
tleyden/open-ocr's preprocessor chain converts non-image payloads
before OCR, /root/reference/ocr_request.go:21-31) — web crawls meet
.docx constantly and a corpus engine must read them without shelling
out to an office suite.

Containers: this module never opens a zip itself. kernels/archive.py
opens each payload once; the ``is_*`` sniffs are predicates over that
one listing (member names, and the ``mimetype`` member ODF and EPUB
put first — detection checks the members, not just the PK magic every
OOXML/ODF/JAR shares), and every extractor reads its members through
``archive.ZipReader``, under the declared-size budget that bounds all
six zip rows. A fault or an over-budget member is a ValueError,
``<row>: bad container (<cause>)``.

DOCX scope (the text layer of ECMA-376 Part 1 §17):
- paragraphs ``<w:p>`` → blank-line-separated blocks, matching the
  HTML branch's paragraph convention;
- runs ``<w:t>`` (with or without attributes) concatenated in order;
  ``<w:tab/>`` → TAB, ``<w:br/>`` / ``<w:cr/>`` → newline;
- the five XML built-in entities plus decimal/hex character
  references decoded;
- everything else (tables, headers, drawings, comments) contributes
  nothing — the body text is the training-data payload.

The writer twins build the minimal valid packages (fixed 1980-01-01
timestamps: byte-reproducible output) so fixtures and property tests
can roundtrip real containers, mirroring the WARC/AVI/webm twins.
"""

from __future__ import annotations

import re

from open_ocr_spark.kernels.archive import ZipReader, build_zip, zip_listing

_PARA = re.compile(rb"<w:p[ >].*?</w:p>|<w:p/>", re.S)
_TOKEN = re.compile(
    rb"<w:t(?:\s[^>]*)?>(.*?)</w:t>|<w:tab\s*/>|<w:br\s*/>|<w:cr\s*/>",
    re.S,
)
_CHARREF = re.compile(r"&#(x[0-9a-fA-F]+|[0-9]+);")


def is_docx(payload: bytes) -> bool:
    """True iff the payload is a ZIP container carrying a
    WordprocessingML main document part."""
    return "word/document.xml" in zip_listing(payload).names


def _unescape(s: str) -> str:
    s = _CHARREF.sub(
        lambda m: chr(int(m.group(1)[1:], 16))
        if m.group(1)[0] in "xX"
        else chr(int(m.group(1))),
        s,
    )
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&apos;", "'"), ("&amp;", "&")):
        s = s.replace(ent, ch)
    return s


def extract_docx_text(payload: bytes) -> str:
    """Plain text of the main document part: paragraphs separated by
    blank lines, runs concatenated, tabs/breaks literal.  Raises
    ValueError for a corrupt container or missing document part."""
    xml = ZipReader(payload, "docx: bad container ({exc})").read(
        "word/document.xml")
    paras = []
    for pm in _PARA.finditer(xml):
        parts = []
        for tm in _TOKEN.finditer(pm.group(0)):
            if tm.group(1) is not None:
                parts.append(_unescape(tm.group(1).decode("utf-8",
                                                          "replace")))
            elif tm.group(0).startswith(b"<w:tab"):
                parts.append("\t")
            else:
                parts.append("\n")
        paras.append("".join(parts))
    return "\n\n".join(paras)


_CONTENT_TYPES = (
    b'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    b'<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    b'content-types"><Default Extension="xml" ContentType="application/'
    b'vnd.openxmlformats-officedocument.wordprocessingml.document.main'
    b'+xml"/></Types>'
)


def _escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def build_docx(paragraphs: list[str]) -> bytes:
    """Writer twin: the minimal WordprocessingML package whose
    extract_docx_text output is exactly '\\n\\n'.join(paragraphs)
    (tabs and newlines inside a paragraph become w:tab / w:br runs)."""
    body = []
    for p in paragraphs:
        runs = []
        for piece in re.split(r"([\t\n])", p):
            if piece == "\t":
                runs.append("<w:tab/>")
            elif piece == "\n":
                runs.append("<w:br/>")
            elif piece:
                runs.append(f"<w:r><w:t>{_escape(piece)}</w:t></w:r>")
        body.append("<w:p>" + "".join(runs) + "</w:p>")
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main"><w:body>'
        + "".join(body)
        + "</w:body></w:document>"
    ).encode("utf-8")
    return build_zip([("[Content_Types].xml", _CONTENT_TYPES),
                      ("word/document.xml", doc)])


# --- OpenDocument Text (ODT) sibling ------------------------------------------
# Same container pattern, different schema (OASIS ODF: content.xml with
# text:p paragraphs, text:tab / text:line-break controls, text:s run-on
# spaces). LibreOffice/OpenOffice exports are the second office format a
# crawler meets; the extraction contract mirrors the DOCX branch.

_ODT_PARA = re.compile(rb"<text:p[ >].*?</text:p>|<text:p/>", re.S)
# named groups decide the token kind — a prefix test would confuse
# <text:span> (generic transparent tag) with the <text:s/> space element
_ODT_TOKEN = re.compile(
    rb"(?P<tab><text:tab\s*/>)|(?P<br><text:line-break\s*/>)"
    rb"|(?P<sp><text:s(?:\s+text:c=\"(?P<c>\d+)\")?\s*/>)"
    rb"|<[^>]+>|(?P<txt>[^<]+)",
    re.S,
)


def is_odt(payload: bytes) -> bool:
    """True iff the payload is a ZIP container whose mimetype member
    declares OpenDocument Text (or carries content.xml with an ODF
    body when the mimetype member is absent)."""
    z = zip_listing(payload)
    if "mimetype" in z.names:
        return z.mimetype.startswith(
            b"application/vnd.oasis.opendocument.text")
    return "content.xml" in z.names


def extract_odt_text(payload: bytes) -> str:
    """Plain text of content.xml: text:p paragraphs as blank-line
    blocks, tabs/line-breaks literal, text:s expanded to spaces, every
    other tag transparent (spans contribute their text).  Raises
    ValueError for a corrupt container or missing content part."""
    xml = ZipReader(payload, "odt: bad container ({exc})").read("content.xml")
    paras = []
    for pm in _ODT_PARA.finditer(xml):
        body = pm.group(0)
        body = body[body.index(b">") + 1:]  # strip the opening tag
        parts = []
        for tm in _ODT_TOKEN.finditer(body):
            if tm.group("tab"):
                parts.append("\t")
            elif tm.group("br"):
                parts.append("\n")
            elif tm.group("sp"):
                parts.append(" " * int(tm.group("c") or b"1"))
            elif tm.group("txt"):
                parts.append(
                    _unescape(tm.group("txt").decode("utf-8", "replace"))
                )
        paras.append("".join(parts))
    return "\n\n".join(paras)


def build_odt(paragraphs: list[str]) -> bytes:
    """Writer twin: minimal ODF Text package (mimetype STORED first, as
    the spec requires, + content.xml) whose extract_odt_text output is
    exactly '\\n\\n'.join(paragraphs)."""
    body = []
    for p in paragraphs:
        runs = []
        for piece in re.split(r"([\t\n])", p):
            if piece == "\t":
                runs.append("<text:tab/>")
            elif piece == "\n":
                runs.append("<text:line-break/>")
            elif piece:
                runs.append(f"<text:span>{_escape(piece)}</text:span>")
        body.append("<text:p >" + "".join(runs) + "</text:p>")
    doc = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<office:document-content xmlns:office="urn:oasis:names:tc:'
        'opendocument:xmlns:office:1.0" xmlns:text="urn:oasis:names:tc:'
        'opendocument:xmlns:text:1.0"><office:body><office:text>'
        + "".join(body)
        + "</office:text></office:body></office:document-content>"
    ).encode("utf-8")
    return build_zip([("mimetype", b"application/vnd.oasis.opendocument.text"),
                      ("content.xml", doc)])


# --- PresentationML (PPTX) sibling ---------------------------------------------
# Third office container a crawler meets: slide decks. Text lives in
# DrawingML runs (<a:t>) inside paragraphs (<a:p>) of
# ppt/slides/slideN.xml parts, one part per slide, ordered by N.

_SLIDE_NAME = re.compile(r"^ppt/slides/slide(\d+)\.xml$")
_A_PARA = re.compile(rb"<a:p[ >].*?</a:p>|<a:p/>", re.S)
_A_TOKEN = re.compile(rb"<a:t(?:\s[^>]*)?>(.*?)</a:t>|<a:br\s*/>", re.S)


def is_pptx(payload: bytes) -> bool:
    """True iff the payload is a ZIP container carrying at least one
    PresentationML slide part."""
    return any(_SLIDE_NAME.match(n) for n in zip_listing(payload).names)


def extract_pptx_text(payload: bytes) -> str:
    """Plain text of every slide in deck order (numeric, not
    lexicographic — slide10 sorts after slide9): paragraphs as
    blank-line blocks, a:br as newline, slides themselves blank-line
    separated.  Raises ValueError for a corrupt container or a deck
    with no slide parts."""
    zr = ZipReader(payload, "pptx: bad container ({exc})")
    slides = sorted(
        (int(m.group(1)), n) for n in zr.names if (m := _SLIDE_NAME.match(n))
    )
    if not slides:
        raise zr.fault(KeyError("no slide parts"))
    xmls = [zr.read(n) for _, n in slides]
    blocks = []
    for xml in xmls:
        for pm in _A_PARA.finditer(xml):
            parts = []
            for tm in _A_TOKEN.finditer(pm.group(0)):
                if tm.group(1) is not None:
                    parts.append(
                        _unescape(tm.group(1).decode("utf-8", "replace"))
                    )
                else:
                    parts.append("\n")
            blocks.append("".join(parts))
    return "\n\n".join(blocks)


def build_pptx(slides: list[list[str]]) -> bytes:
    """Writer twin: minimal PresentationML package (one slideN.xml per
    slide, fixed 1980-01-01 timestamps) whose extract_pptx_text output
    is exactly '\\n\\n'.join all paragraphs across slides in order
    (newlines inside a paragraph become a:br runs)."""
    members = [(
        "[Content_Types].xml",
        b'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        b'<Types xmlns="http://schemas.openxmlformats.org/package/'
        b'2006/content-types"><Default Extension="xml" ContentType='
        b'"application/vnd.openxmlformats-officedocument.'
        b'presentationml.slide+xml"/></Types>',
    )]
    for n, paras in enumerate(slides, start=1):
        body = []
        for p in paras:
            runs = []
            for piece in re.split(r"(\n)", p):
                if piece == "\n":
                    runs.append("<a:br/>")
                elif piece:
                    runs.append(f"<a:r><a:t>{_escape(piece)}</a:t></a:r>")
            body.append("<a:p >" + "".join(runs) + "</a:p>")
        xml = (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<p:sld xmlns:p="http://schemas.openxmlformats.org/'
            'presentationml/2006/main" xmlns:a="http://schemas.'
            'openxmlformats.org/drawingml/2006/main"><p:cSld>'
            '<p:spTree>' + "".join(body) + "</p:spTree></p:cSld></p:sld>"
        ).encode("utf-8")
        members.append((f"ppt/slides/slide{n}.xml", xml))
    return build_zip(members)


# --- SpreadsheetML (XLSX) sibling ----------------------------------------------
# Fourth office container: workbooks (ECMA-376 Part 1 §18). Cell text is
# indirect — shared strings live in xl/sharedStrings.xml and cells
# reference them by index (t="s"); literal values sit in <v> (numbers,
# formula results) or <is><t> (inline strings). Flat-text convention:
# cells tab-separated, rows newline-separated, sheets (numeric part
# order) blank-line separated — the same reading-order contract as the
# other branches.

_SHEET_NAME = re.compile(r"^xl/worksheets/sheet(\d+)\.xml$")
_SI = re.compile(rb"<si>(.*?)</si>", re.S)
_T = re.compile(rb"<t(?:\s[^>]*)?>(.*?)</t>", re.S)
_XROW = re.compile(rb"<row(?:\s[^>]*)?(?:/>|>(.*?)</row>)", re.S)
# attrs are non-greedy so a self-closing cell's "/" is consumed by the
# "/>" branch, never left inside the attrs group (which would make the
# ">(.*?)</c>" branch swallow the NEXT cell); the lookahead keeps other
# c-prefixed tags (<col>) out
_XCELL = re.compile(rb"<c(?![a-zA-Z])([^>]*?)(?:/>|>(.*?)</c>)", re.S)
_V = re.compile(rb"<v(?:\s[^>]*)?>(.*?)</v>", re.S)
_CELL_T = re.compile(rb't="([^"]+)"')


def is_xlsx(payload: bytes) -> bool:
    """True iff the payload is a ZIP container carrying a SpreadsheetML
    workbook part."""
    return "xl/workbook.xml" in zip_listing(payload).names


def _txt(raw: bytes) -> str:
    return _unescape(raw.decode("utf-8", "replace"))


def extract_xlsx_text(payload: bytes) -> str:
    """Flat text of every worksheet in numeric part order: shared-string
    (t="s"), inline-string (t="inlineStr") and literal <v> cells (numbers
    kept as their raw lexical form — no float reformatting), cells
    tab-joined, rows newline-joined, sheets blank-line-joined.  Raises
    ValueError for a corrupt container or a workbook with no sheets."""
    zr = ZipReader(payload, "xlsx: bad container ({exc})")
    sheets = sorted(
        (int(m.group(1)), n) for n in zr.names if (m := _SHEET_NAME.match(n))
    )
    if not sheets:
        raise zr.fault(KeyError("no worksheet parts"))
    sst = (zr.read("xl/sharedStrings.xml")
           if "xl/sharedStrings.xml" in zr.names else b"")
    shared = ["".join(_txt(t.group(1)) for t in _T.finditer(sm.group(1)))
              for sm in _SI.finditer(sst)]
    xmls = [zr.read(n) for _, n in sheets]

    blocks = []
    for xml in xmls:
        lines = []
        for rm in _XROW.finditer(xml):
            body = rm.group(1) or b""
            cells = []
            for cm in _XCELL.finditer(body):
                attrs, cbody = cm.group(1) or b"", cm.group(2) or b""
                tm = _CELL_T.search(attrs)
                ctype = tm.group(1) if tm else b""
                if ctype == b"s":
                    vm = _V.search(cbody)
                    idx = int(vm.group(1)) if vm else -1
                    cells.append(
                        shared[idx] if 0 <= idx < len(shared) else ""
                    )
                elif ctype == b"inlineStr":
                    cells.append(
                        "".join(_txt(t.group(1))
                                for t in _T.finditer(cbody))
                    )
                else:  # number / formula string / boolean: raw <v> text
                    vm = _V.search(cbody)
                    cells.append(_txt(vm.group(1)) if vm else "")
            lines.append("\t".join(cells))
        blocks.append("\n".join(lines))
    return "\n\n".join(blocks)


_NUM = re.compile(r"-?\d+(\.\d+)?")


def build_xlsx(sheets: list[list[list[str]]]) -> bytes:
    """Writer twin: minimal SpreadsheetML package whose
    extract_xlsx_text output is exactly the tab/newline/blank-line
    rendering of ``sheets`` (list of sheets, each a list of rows, each a
    list of cell strings — cells must not contain tabs or newlines,
    which the flat-text convention reserves).  Numeric-looking cells
    become literal number cells (<v>); every other cell goes through
    the REAL shared-strings table (deduplicated, as Excel writes it) so
    the indirection path is what roundtrips."""
    shared: dict[str, int] = {}
    sheet_xmls = []
    for rows in sheets:
        rx = []
        for r, row in enumerate(rows, start=1):
            cx = []
            for j, cell in enumerate(row):
                ref = (
                    f' r="{chr(65 + j)}{r}"' if j < 26 else ""
                )
                if _NUM.fullmatch(cell):
                    cx.append(f"<c{ref}><v>{cell}</v></c>")
                else:
                    idx = shared.setdefault(cell, len(shared))
                    cx.append(f'<c{ref} t="s"><v>{idx}</v></c>')
            rx.append(f'<row r="{r}">' + "".join(cx) + "</row>")
        sheet_xmls.append(
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main"><sheetData>'
            + "".join(rx)
            + "</sheetData></worksheet>"
        )
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/'
        f'2006/main" count="{len(shared)}" uniqueCount="{len(shared)}">'
        + "".join(
            f"<si><t>{_escape(s)}</t></si>"
            for s in sorted(shared, key=shared.get)
        )
        + "</sst>"
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/'
        'spreadsheetml/2006/main"><sheets>'
        + "".join(
            f'<sheet name="Sheet{n}" sheetId="{n}"/>'
            for n in range(1, len(sheets) + 1)
        )
        + "</sheets></workbook>"
    )
    return build_zip([
        (
            "[Content_Types].xml",
            b'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            b'<Types xmlns="http://schemas.openxmlformats.org/package'
            b'/2006/content-types"><Default Extension="xml" '
            b'ContentType="application/vnd.openxmlformats-'
            b'officedocument.spreadsheetml.sheet.main+xml"/></Types>',
        ),
        ("xl/workbook.xml", workbook.encode("utf-8")),
        ("xl/sharedStrings.xml", sst.encode("utf-8")),
    ] + [
        (f"xl/worksheets/sheet{n}.xml", xml.encode("utf-8"))
        for n, xml in enumerate(sheet_xmls, start=1)
    ])


# --- EPUB sibling ----------------------------------------------------------------
# E-books are the fifth zip container a crawler meets (IDPF/W3C EPUB,
# OCF + OPF package). Unlike the office branches the payload chapters
# are XHTML — so extraction REUSES the engine's own HTML kernel per
# chapter and joins chapters in SPINE order (the package's declared
# reading order, not member order).

_ROOTFILE = re.compile(rb'full-path="([^"]+)"')
_ITEM = re.compile(rb"<item\s[^>]*?/?>", re.S)
_ITEMREF = re.compile(rb"<itemref\s[^>]*?/?>", re.S)
_ATTR_ID = re.compile(rb'\bid="([^"]*)"')
_ATTR_HREF = re.compile(rb'\bhref="([^"]*)"')
_ATTR_IDREF = re.compile(rb'\bidref="([^"]*)"')


def is_epub(payload: bytes) -> bool:
    """True iff the payload is an OCF container (EPUB): mimetype member
    declaring application/epub+zip, or META-INF/container.xml when the
    (technically mandatory) mimetype member is absent."""
    z = zip_listing(payload)
    if "mimetype" in z.names:
        return z.mimetype.startswith(b"application/epub+zip")
    return "META-INF/container.xml" in z.names


def extract_epub_text(payload: bytes) -> str:
    """Main text of every spine chapter in reading order, blank-line
    separated: container.xml -> OPF rootfile -> manifest id->href ->
    spine idref order; each chapter's XHTML goes through the engine's
    own boilerplate-stripping HTML kernel (html_extract).  Raises
    ValueError for a corrupt container, missing package parts, or a
    spine reference with no manifest item / member."""
    import posixpath

    from open_ocr_spark.kernels.html_extract import extract_main_text

    zr = ZipReader(payload, "epub: bad container ({exc})")
    rm = _ROOTFILE.search(zr.read("META-INF/container.xml"))
    if not rm:
        raise zr.fault(KeyError("container.xml has no rootfile"))
    opf_path = rm.group(1).decode("utf-8", "replace")
    opf = zr.read(opf_path)
    base = posixpath.dirname(opf_path)
    manifest = {}
    for im in _ITEM.finditer(opf):
        idm = _ATTR_ID.search(im.group(0))
        hm = _ATTR_HREF.search(im.group(0))
        if idm and hm:
            manifest[idm.group(1)] = _unescape(
                hm.group(1).decode("utf-8", "replace")
            )
    chapters = []
    for rm2 in _ITEMREF.finditer(opf):
        idm = _ATTR_IDREF.search(rm2.group(0))
        if not idm:
            continue
        href = manifest.get(idm.group(1))
        if href is None:
            raise zr.fault(
                KeyError(f"spine idref {idm.group(1)!r} not in manifest"))
        chapters.append(
            zr.read(posixpath.normpath(posixpath.join(base, href)))
        )
    if not chapters:
        raise zr.fault(KeyError("empty spine"))
    return "\n\n".join(extract_main_text(ch) for ch in chapters)


def build_epub(chapters: list[bytes]) -> bytes:
    """Writer twin: minimal OCF/OPF package (mimetype STORED first, as
    the spec requires; container.xml; content.opf whose spine lists the
    chapters in the GIVEN order while the manifest enumerates them
    reversed — so only spine-order readers roundtrip; one XHTML member
    per chapter under OEBPS/)."""
    n = len(chapters)
    manifest = "".join(
        f'<item id="ch{i}" href="text/ch{i}.xhtml" '
        'media-type="application/xhtml+xml"/>'
        for i in reversed(range(1, n + 1))
    )
    spine = "".join(
        f'<itemref idref="ch{i}"/>' for i in range(1, n + 1)
    )
    opf = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<package xmlns="http://www.idpf.org/2007/opf" version="3.0">'
        f"<manifest>{manifest}</manifest><spine>{spine}</spine></package>"
    ).encode("utf-8")
    container = (
        b'<?xml version="1.0" encoding="UTF-8"?>'
        b'<container xmlns="urn:oasis:names:tc:opendocument:xmlns:'
        b'container" version="1.0"><rootfiles>'
        b'<rootfile full-path="OEBPS/content.opf" '
        b'media-type="application/oebps-package+xml"/>'
        b"</rootfiles></container>"
    )
    return build_zip([
        ("mimetype", b"application/epub+zip"),
        ("META-INF/container.xml", container),
        ("OEBPS/content.opf", opf),
    ] + [
        (f"OEBPS/text/ch{i}.xhtml", ch)
        for i, ch in enumerate(chapters, start=1)
    ])
