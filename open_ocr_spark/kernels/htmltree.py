"""Minimal, deterministic HTML node tree built by one regex tokenizer.

This is the graft's recast of the reference's external OCR binaries: where
open-ocr shells out to ``tesseract`` per document
(/root/reference/tesseract_engine.go:98-128, exec at :210-211), this engine
parses the raw page bytes into a node tree in pure Python so the extraction
stage can run vectorized inside one Arrow batch with zero subprocesses and
zero per-row Python on the Spark side.

Determinism requirements (SURVEY.md §7.3 "Hard #1/#2"): stdlib-only parsing,
an explicit frozen decode policy (WHATWG-style charset sniff: BOM, then a
1024-byte <meta> prescan with label normalization, then utf-8; always
errors=replace), no environment-dependent behavior. The same bytes must
yield the same tree on every executor at any parallelism.

One tokenizer serves every HTML consumer: the txt extractor, tables,
markdown and microdata. The last two ask for attributes
(``parse_html(raw, attrs=True)``); the extraction hot path parses none.

Tree representation (hot-path layout): element nodes are ``Node``; text
runs are plain ``str`` entries in ``children`` — no object allocation per
text run, which is the bulk of nodes on a text-heavy page. Candidate
main-content roots are collected in document order at parse time
(``root.candidates``) so scoring needs no full-tree walk.
"""

from __future__ import annotations

import codecs
import html
import re

# --- charset sniff ----------------------------------------------------------
# WHATWG "encoding sniffing algorithm", reduced to its deterministic core:
# a byte-order mark wins; else a <meta charset=...> / <meta http-equiv
# content="...charset=..."> found in the first 1024 bytes; else utf-8.
# Labels normalize per the WHATWG encoding registry's big equivalence
# classes (every latin1-family label means windows-1252 on the web; a meta
# claiming utf-16 is a lie by construction — the prescan READ it as ASCII —
# and maps to utf-8, as the spec prescribes). Unknown labels fall back to
# utf-8. Decoding is always errors=replace: a wrong declaration degrades to
# replacement characters, never raises, and stays byte-deterministic.

_META_CHARSET_RE = re.compile(
    rb"<meta[^>]+charset\s*=\s*[\"']?\s*([a-zA-Z0-9._-]+)", re.I
)

# The WHATWG prescan skips comments: a commented-out <meta charset=...>
# must not win over the real declaration.  Closed comments are removed
# from the window; an UNCLOSED comment swallows the rest of the window
# (the spec jumps past "-->" and never finds it, ending the prescan).
_HTML_COMMENT_RE = re.compile(rb"<!--.*?-->", re.S)
_OPEN_COMMENT_RE = re.compile(rb"<!--.*\Z", re.S)

# WHATWG label -> Python codec, for the classes where they differ.
_CHARSET_ALIASES = {
    "iso-8859-1": "cp1252", "latin1": "cp1252", "latin-1": "cp1252",
    "us-ascii": "cp1252", "ascii": "cp1252", "windows-1252": "cp1252",
    "iso8859-1": "cp1252", "l1": "cp1252",
    "gb2312": "gb18030", "gbk": "gb18030", "gb_2312-80": "gb18030",
    "shift-jis": "shift_jis", "sjis": "shift_jis", "x-sjis": "shift_jis",
    "euc-kr": "cp949", "ks_c_5601-1987": "cp949", "korean": "cp949",
    "utf-16": "utf-8", "utf-16le": "utf-8", "utf-16be": "utf-8",
    "unicode": "utf-8",
}


def sniff_charset(raw: bytes) -> str:
    """The Python codec name the frozen decode policy picks for a page."""
    if raw[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig"
    if raw[:2] in (b"\xff\xfe", b"\xfe\xff"):
        # the utf-16 codec reads the BOM for endianness AND strips it;
        # the -le/-be variants would leave a U+FEFF in the text
        return "utf-16"
    window = raw[:1024]
    if b"<!--" in window:  # hot path: most pages have no early comment
        window = _OPEN_COMMENT_RE.sub(b"", _HTML_COMMENT_RE.sub(b"", window))
    m = _META_CHARSET_RE.search(window)
    if m:
        label = m.group(1).decode("ascii").lower()
        label = _CHARSET_ALIASES.get(label, label)
        try:
            codecs.lookup(label)
            return label
        except LookupError:
            return "utf-8"
    return "utf-8"


def decode_html_bytes(raw: bytes | bytearray | memoryview) -> str:
    """bytes -> str under the frozen sniff policy (never raises)."""
    raw = bytes(raw)
    return raw.decode(sniff_charset(raw), errors="replace")


def codec_for_label(label: str) -> str | None:
    """Python codec for a TRANSPORT-layer charset label (the HTTP
    Content-Type parameter), normalized through the same WHATWG label
    classes the meta prescan uses — per the spec the transport layer
    sits ABOVE the sniff, so a valid header label wins over BOM/meta.
    Unknown labels return None: the caller falls back to sniffing (the
    spec's behavior for an unrecognized label), never errors."""
    norm = _CHARSET_ALIASES.get(label.strip().lower(), label.strip().lower())
    try:
        codecs.lookup(norm)
        return norm
    except LookupError:
        return None


# Elements whose entire subtree carries no extractable text.
SKIP_TAGS = frozenset(
    {"script", "style", "noscript", "template", "head", "svg", "iframe",
     "object", "embed", "canvas", "audio", "video", "map", "button",
     "select", "option", "textarea", "datalist"}
)

# Void elements: never pushed on the open-element stack.
VOID_TAGS = frozenset(
    {"area", "base", "br", "col", "embed", "hr", "img", "input", "link",
     "meta", "param", "source", "track", "wbr"}
)

# Block-level elements: boundaries between them are paragraph breaks.
BLOCK_TAGS = frozenset(
    {"address", "article", "aside", "blockquote", "body", "caption", "dd",
     "div", "dl", "dt", "fieldset", "figcaption", "figure", "footer", "form",
     "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr", "html", "li",
     "main", "nav", "ol", "p", "pre", "section", "table", "tbody", "td",
     "tfoot", "th", "thead", "tr", "ul"}
)

# Boilerplate containers: their text is counted but they are never chosen as
# the main-content root, and they are pruned from a chosen ancestor's output.
# This is the graft's analog of the stroke-width-transform text-region filter
# (/root/reference/stroke_width_transform.go:15-68): regions that do not look
# like body text are removed before the engine runs.
BOILERPLATE_TAGS = frozenset({"nav", "header", "footer", "aside", "form"})

# Candidate roots for main content (disjoint from BOILERPLATE_TAGS, so the
# parse-time candidate list needs no boilerplate filter).
CANDIDATE_TAGS = frozenset({"article", "main", "section", "div", "body", "td"})


class Node:
    """One element node: tag + children. ``children`` holds child ``Node``s
    and plain ``str`` text runs interleaved in document order.

    ``tlen``/``llen`` are subtree totals of collapsed text chars / chars
    under <a>, folded in DURING parsing (each element's totals flow into
    its parent when it closes) so scoring needs no second tree walk.
    ``candidates`` is set on the document root only: every CANDIDATE_TAGS
    element in document (pre-)order."""

    __slots__ = ("tag", "attrs", "children", "tlen", "llen", "candidates")

    def __init__(self, tag, attrs=None):
        self.tag = tag
        # a dict under parse_html(attrs=True), else None: the extractor
        # reads no attributes, so the hot path allocates no dict per node
        self.attrs = attrs
        self.children = []
        self.tlen = 0
        self.llen = 0
        self.candidates = None

    def iter(self):
        """Depth-first pre-order walk of this subtree: yields Node elements
        and plain-str text runs."""
        stack = [self]
        while stack:
            node = stack.pop()
            yield node
            if type(node) is not str:
                stack.extend(reversed(node.children))

    def iter_text(self):
        """All text runs in document order."""
        for n in self.iter():
            if type(n) is str:
                yield n


# --- tokenizer --------------------------------------------------------------
# One compiled-regex finditer drives the whole scan (plus per-raw-text close
# regexes); source positions are never tracked. Tolerant tree semantics:
# implicit closes, ignored stray end tags, SKIP_TAGS subtrees dropped,
# entities unescaped.
#
# The tag token is linear-time: a quote opens a value only right after
# `=`, and once a tag name matches the token cannot fail — it ends at the
# first `>` outside a quoted value, or at end of input (WHATWG "EOF in
# tag": an unterminated tag swallows the rest of the document). So a
# page of unterminated `<a ` costs one scan, not one scan per `<`.

_TOKEN_RE = re.compile(
    r"<!--.*?(?:-->|$)"              # comment
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"    # cdata
    r"|<[!?][^>]*>?"                 # doctype / PI
    r"|<\s*(/?)\s*([a-zA-Z][a-zA-Z0-9:_.-]*)"  # tag: slash, name
    r"(?:[^>\"'=/]+|=\s*\"[^\"]*\"|=\s*'[^']*'|[=\"'/])*?"  # attributes
    r"(/?)\s*(?:>|\Z)",              # self-closing slash
    re.S,
)
# raw-text elements: content runs to the matching close tag, never nested
# (an unterminated close tag runs to end of input, which keeps the search
# linear: `[^>]*>` alone rescans the rest of the page per `</script`)
_RAWTEXT = {"script", "style", "textarea", "title", "noscript", "template"}
_RAWTEXT_CLOSE = {
    t: re.compile(rf"</\s*{t}[^>]*(?:>|\Z)", re.I) for t in _RAWTEXT
}
# One attribute of a start tag: name, then an optional `=` value (single-
# or double-quoted, or bare), then separators. A name must follow a quote,
# whitespace or `/`; `==` counts as one `=`.
_ATTR_RE = re.compile(
    r"(?:\s|/(?!>))*((?<=['\"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"
    r"('[^']*'|\"[^\"]*\"|(?!['\"])[^>\s]*))?(?:\s|/(?!>))*"
)


def _parse_attrs(raw: str, pos: int, end: int) -> dict:
    """Attributes of the tag token span ``raw[pos:end]`` (after the tag
    name, through the self-closing slash): names lowercased, values
    unquoted then unescaped, a valueless attribute maps to None, and a
    repeated name keeps its last value. Stops at the first span that is
    not an attribute."""
    attrs = {}
    match = _ATTR_RE.match
    while pos < end:
        m = match(raw, pos, end)
        if not m:
            break
        name, rest, value = m.group(1, 2, 3)
        if not rest:
            value = None
        elif value[:1] == value[-1:] and value[:1] in ("'", '"'):
            value = value[1:-1]
        if value:
            value = html.unescape(value)
        attrs[name.lower()] = value
        pos = m.end()
    return attrs


def parse_html(raw: bytes | str, attrs: bool = False) -> Node:
    """Parse HTML bytes (frozen sniff-then-replace decode policy, see
    decode_html_bytes) or a str into a Node tree. Never raises on
    malformed markup.

    ``attrs=False`` (the extraction hot path) leaves every ``Node.attrs``
    None; ``attrs=True`` gives each element a dict of its tag's
    attributes (see _parse_attrs)."""
    if isinstance(raw, (bytes, bytearray, memoryview)):
        raw = decode_html_bytes(raw)
    root = Node("#document")
    candidates: list[Node] = []
    root.candidates = candidates
    stack = [root]
    skip_tag = None
    skip_depth = 0
    a_depth = 0
    # open elements per tag name, so a stray end tag costs O(1) instead of
    # a scan of the open-element stack (quadratic on `<b>`*n + `</x>`*n)
    open_n: dict[str, int] = {}
    pos = 0
    n = len(raw)

    def add_text(text: str) -> None:
        if "&" in text:
            text = html.unescape(text)
        top = stack[-1]
        clen = collapsed_len(text)
        top.tlen += clen
        if a_depth:
            top.llen += clen
        top.children.append(text)

    def pop_to(idx: int) -> None:
        # fold each popped element's totals into its parent (stats flow up
        # exactly once, at close time)
        nonlocal a_depth
        while len(stack) > idx:
            child = stack.pop()
            open_n[child.tag] -= 1
            if child.tag == "a":
                a_depth -= 1
            parent = stack[-1]
            parent.tlen += child.tlen
            parent.llen += child.llen

    # C-level token scan: one finditer drives the whole loop (the regex
    # engine skips intervening text internally — measured ~9% faster than
    # the previous find('<') + anchored-match loop on the fixture corpus,
    # byte-identical trees). The ONE place `pos` jumps ahead of the
    # iterator is a raw-text body (script/style): the iterator is
    # re-created at the jump target, because a still-pending match that
    # STARTED inside the raw body can span past its close tag (an
    # unterminated `<!--` inside a script would otherwise swallow the
    # rest of the document as one comment token — real tags the old loop
    # parsed). Resyncs are 1-2 per document, so the restart cost is noise.
    it = _TOKEN_RE.finditer(raw)
    nxt = it.__next__
    while True:
        try:
            m = nxt()
        except StopIteration:
            break
        start = m.start()
        if start > pos and skip_depth == 0:
            add_text(raw[pos:start])
        pos = m.end()
        slash, tag, trail = m.group(1, 2, 3)
        if tag is None:
            continue  # comment / cdata / doctype / PI
        if not tag.islower():
            tag = tag.lower()

        if skip_depth:
            if tag == skip_tag:
                if slash:
                    skip_depth -= 1
                elif tag not in VOID_TAGS:
                    skip_depth += 1
            continue

        if slash:
            if not open_n.get(tag):
                continue  # stray end tag (void elements are never open)
            for i in range(len(stack) - 1, 0, -1):
                if stack[i].tag == tag:
                    pop_to(i)
                    break
            continue

        if tag in SKIP_TAGS:
            if trail:
                continue
            if tag in _RAWTEXT:
                # raw-text content: jump straight to the close tag and
                # resync the token iterator past the body (see above)
                mclose = _RAWTEXT_CLOSE[tag].search(raw, pos)
                pos = mclose.end() if mclose else n
                it = _TOKEN_RE.finditer(raw, pos)
                nxt = it.__next__
            else:
                skip_tag = tag
                skip_depth = 1
            continue

        top = stack[-1]
        node = Node(tag, _parse_attrs(raw, m.end(2), m.end(3)) if attrs else None)
        top.children.append(node)
        if tag in CANDIDATE_TAGS:
            candidates.append(node)
        if not trail and tag not in VOID_TAGS:
            stack.append(node)
            open_n[tag] = open_n.get(tag, 0) + 1
            if tag == "a":
                a_depth += 1
    if pos < n and skip_depth == 0:
        add_text(raw[pos:])
    pop_to(1)  # folds every still-open element's totals up into root
    return root


def collapse_ws(s: str) -> str:
    """Frozen whitespace normalization: any run of unicode whitespace
    becomes one ASCII space; leading/trailing stripped."""
    return " ".join(s.split())


def collapsed_len(s: str) -> int:
    """len(collapse_ws(s)) without building the string."""
    parts = s.split()
    if not parts:
        return 0
    return sum(map(len, parts)) + len(parts) - 1
