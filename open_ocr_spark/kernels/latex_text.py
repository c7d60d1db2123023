r"""LaTeX (.tex) extraction branch.

Scientific corpora (arXiv mirrors, course pages, thesis repositories)
ship documents as LaTeX source; "recover the text from the document"
(the reference's extraction contract) means the prose with the markup
resolved, not backslash soup — the exact analog of the HTML branch's
boilerplate strip.

From-scratch renderer over the public TeX/LaTeX surface syntax (Knuth,
The TeXbook; Lamport, LaTeX: A Document Preparation System). Scope and
determinism rules, pinned by the writer twin + unit fixtures:

- comments: an unescaped ``%`` consumes through the newline (TeX eats
  the line break, so ``foo%\nbar`` renders ``foobar``), including a
  commented-out ``\begin{verbatim}``;
- body = between ``\begin{document}`` and ``\end{document}`` (to EOF if
  the end tag is missing — truncated crawl payloads must parse); a
  payload with no body is a ValueError for the dispatch to wrap;
- sectioning (``\section{T}`` family, starred or not) renders the title
  as its own paragraph; wrapper commands (``\emph`` etc.) keep their
  argument inline; reference/preamble commands (``\cite``, ``\label``,
  ``\usepackage`` …) drop with their arguments; unknown commands drop
  alone and their brace groups render as plain groups;
- ``\item`` starts a new paragraph (one paragraph per item, matching
  the HTML branch's one-paragraph-per-``<li>``);
- math (``$…$``, ``\(…\)``, ``\[…\]``, equation-family environments)
  keeps the source verbatim with the delimiters dropped — the formula
  IS the content for a text corpus;
- ``verbatim`` environments render byte-verbatim as their own
  paragraph;
- an unescaped ``&`` is an alignment tab: it separates table cells and
  renders as a space, while ``\&`` renders a literal ampersand;
- ligatures: ``---`` → em dash, ``--`` → en dash, ``` `` ``` → “,
  ``''`` → ”, ``~`` → space; single quotes are left alone (prose
  apostrophes must survive byte-exactly);
- whitespace collapses to single spaces inside a paragraph; blank lines
  split paragraphs (joined ``\n\n``), as everywhere in this engine.

Totality: ``extract_latex_text`` raises ValueError only; hostile-input
caps bound group nesting and output size.
"""

from __future__ import annotations

import re

_MAX_DEPTH = 64            # brace/environment nesting cap
_MAX_TEXT = 20 * 1 << 20   # rendered-text cap, mirrors MAX_DOC_BYTES

# Commands whose single brace argument renders as its own paragraph.
_SECTIONING = {
    "part", "chapter", "section", "subsection", "subsubsection",
    "paragraph", "subparagraph",
}
# Commands whose single brace argument renders inline.
_KEEP_INNER = {
    "emph", "textbf", "textit", "texttt", "textsc", "textsf", "textrm",
    "textnormal", "underline", "mbox", "text", "caption", "textsuperscript",
    "textsubscript",
}
# Commands that drop together with all their [..]/{..} arguments.
_DROP_WITH_ARGS = {
    "label", "cite", "citep", "citet", "ref", "eqref", "pageref",
    "usepackage", "documentclass", "includegraphics", "input", "include",
    "vspace", "hspace", "bibliography", "bibliographystyle", "setlength",
    "newcommand", "renewcommand", "providecommand", "hyphenation",
    "footnote", "footnotemark", "footnotetext", "pagestyle",
    "thispagestyle", "graphicspath", "author", "title", "date",
}
# Environments whose raw contents pass through as one math paragraph.
_MATH_ENVS = {
    "equation", "equation*", "align", "align*", "displaymath", "math",
    "eqnarray", "eqnarray*", "gather", "gather*", "multline", "multline*",
}
_ESCAPES = {"%": "%", "&": "&", "_": "_", "$": "$", "#": "#",
            "{": "{", "}": "}", " ": " ", ",": " "}

_COMMENT_RE = re.compile(r"(?<!\\)((?:\\\\)*)%[^\n]*\n?")
_CMD_RE = re.compile(r"[A-Za-z]+\*?")
_VERBATIM_OPEN = "\\begin{verbatim}"
_VERBATIM_CLOSE = "\\end{verbatim}"


def is_latex(payload: bytes) -> bool:
    r"""True iff the first non-comment, non-blank line opens with
    ``\documentclass`` (the LaTeX 2e document preamble — nothing else
    on the web starts that way)."""
    head = payload[:4096].decode("utf-8", errors="replace")
    for line in head.split("\n")[:50]:
        line = line.lstrip()
        if not line or line.startswith("%"):
            continue
        return line.startswith("\\documentclass")
    return False


def _strip_comments(s: str) -> str:
    # an even run of backslashes before % leaves % as comment-opener;
    # the run itself is kept (group 1)
    return _COMMENT_RE.sub(lambda m: m.group(1), s)


def _park_verbatim(src: str, raw: list[str]) -> str:
    r"""Park verbatim bodies in ``raw`` behind \x00 sentinels BEFORE the
    comment strip: '%' inside verbatim is content, and the byte-verbatim
    promise must survive the global comment pass (pinned by test). An
    opener that an unescaped '%' precedes on its line is itself comment
    text and stays, with the rest of its line, for the strip."""
    out: list[str] = []
    pos = 0
    while (start := src.find(_VERBATIM_OPEN, pos)) >= 0:
        body = start + len(_VERBATIM_OPEN)
        line_start = max(pos, src.rfind("\n", pos, start) + 1)
        if _COMMENT_RE.search(src, line_start, start):
            eol = src.find("\n", body)
            eol = len(src) if eol < 0 else eol
            out.append(src[pos:eol])
            pos = eol
            continue
        end = src.find(_VERBATIM_CLOSE, body)
        end = len(src) if end < 0 else end
        raw.append(src[body:end].strip("\n"))
        out.append(src[pos:start] + f"\n\n\x00{len(raw) - 1}\x00\n\n")
        pos = min(end + len(_VERBATIM_CLOSE), len(src))
    out.append(src[pos:])
    return "".join(out)


def _collapse(text: str) -> str:
    """Paragraph assembly: blank lines split paragraphs, runs of
    whitespace inside one collapse to a single space."""
    paras = re.split(r"\n\s*\n", text)
    out = [" ".join(p.split()) for p in paras]
    return "\n\n".join(p for p in out if p)


def _skip_opt(s: str, i: int) -> int:
    """Consume one balanced [..] group at i, if present."""
    if s[i:i + 1] != "[":
        return i
    depth = 0
    for j in range(i, len(s)):
        if s[j] == "[":
            depth += 1
        elif s[j] == "]":
            depth -= 1
            if depth == 0:
                return j + 1
    return len(s)


def _brace_group(s: str, i: int) -> tuple[str | None, int]:
    """Read one balanced {..} group at i → (contents, end) or (None, i)."""
    if s[i:i + 1] != "{":
        return None, i
    depth = 0
    for j in range(i, len(s)):
        if s[j] == "{" and (j == 0 or s[j - 1] != "\\"):
            depth += 1
        elif s[j] == "}" and s[j - 1] != "\\":
            depth -= 1
            if depth == 0:
                return s[i + 1:j], j + 1
    return s[i + 1:], len(s)


def _find_env_end(s: str, i: int, env: str) -> tuple[str, int]:
    r"""Contents from i to the matching \end{env} (same-name nesting
    honored), plus the index just past the \end tag."""
    pat = re.compile(
        r"\\(begin|end)\{" + re.escape(env).replace(r"\*", r"\*") + r"\}"
    )
    depth = 1
    for m in pat.finditer(s, i):
        depth += 1 if m.group(1) == "begin" else -1
        if depth == 0:
            return s[i:m.start()], m.end()
    return s[i:], len(s)


def _render(s: str, depth: int, raw: list[str]) -> str:
    """One pass over a token stream; verbatim/math blocks park in
    ``raw`` behind \x00 sentinels so whitespace collapse skips them."""
    if depth > _MAX_DEPTH:
        raise ValueError(f"latex nesting exceeds {_MAX_DEPTH}")
    out: list[str] = []
    i, n = 0, len(s)
    size = 0

    def emit(piece: str) -> None:
        # single append point so the output cap counts exactly what was
        # produced — no per-iteration re-adds, no uncounted branches
        nonlocal size
        size += len(piece)
        if size > _MAX_TEXT:
            raise ValueError(f"rendered latex text exceeds {_MAX_TEXT}")
        out.append(piece)

    while i < n:
        c = s[i]
        if c == "\\":
            nxt = s[i + 1:i + 2]
            if nxt == "\\":
                # line break; swallow an optional [4pt]-style length
                i = _skip_opt(s, i + 2)
                emit("\n")
                continue
            if nxt in _ESCAPES:
                emit(_ESCAPES[nxt])
                i += 2
                continue
            if nxt == "(":
                j = s.find("\\)", i + 2)
                j = n if j < 0 else j
                emit(s[i + 2:j])
                i = min(j + 2, n)
                continue
            if nxt == "[":
                j = s.find("\\]", i + 2)
                j = n if j < 0 else j
                raw.append(" ".join(s[i + 2:j].split()))
                emit(f"\n\n\x00{len(raw) - 1}\x00\n\n")
                i = min(j + 2, n)
                continue
            m = _CMD_RE.match(s, i + 1)
            if not m:
                i += 2  # unknown control symbol: drop it
                continue
            cmd = m.group(0)
            i = m.end()
            base = cmd.rstrip("*")
            if base == "begin":
                env, i = _brace_group(s, i)
                env = (env or "").strip()
                i = _skip_opt(s, i)
                if env == "tabular*":
                    # tabular* takes a width group BEFORE the column
                    # spec; both are layout, not content
                    _, i = _brace_group(s, i)
                if env in ("tabular", "tabular*"):
                    # mandatory column-spec group ({ll} etc.) is layout,
                    # not content
                    _, i = _brace_group(s, i)
                body, i = _find_env_end(s, i, env)
                if env in _MATH_ENVS:
                    raw.append(" ".join(body.split()))
                    emit(f"\n\n\x00{len(raw) - 1}\x00\n\n")
                else:
                    # tabular/list/quote/figure/unknown: contents render,
                    # paragraph-separated from the surroundings
                    emit("\n\n" + _render(body, depth + 1, raw)
                               + "\n\n")
            elif base == "end":
                _, i = _brace_group(s, i)  # unbalanced \end: drop
            elif base == "item":
                i = _skip_opt(s, i)
                emit("\n\n")
            elif base in _SECTIONING:
                i = _skip_opt(s, i)
                arg, i = _brace_group(s, i)
                emit("\n\n" + _render(arg or "", depth + 1, raw)
                           + "\n\n")
            elif base in _KEEP_INNER:
                arg, i = _brace_group(s, i)
                emit(_render(arg or "", depth + 1, raw))
            elif base in _DROP_WITH_ARGS:
                while True:
                    j = _skip_opt(s, i)
                    if j != i:
                        i = j
                        continue
                    arg, j = _brace_group(s, i)
                    if j == i:
                        break
                    i = j
            else:
                # unknown control word: TeX consumes following spaces
                while i < n and s[i] in " \t":
                    i += 1
        elif c == "$":
            dbl = s[i + 1:i + 2] == "$"
            open_len = 2 if dbl else 1
            j = s.find("$$" if dbl else "$", i + open_len)
            j = n if j < 0 else j
            body = s[i + open_len:j]
            if dbl:
                raw.append(" ".join(body.split()))
                emit(f"\n\n\x00{len(raw) - 1}\x00\n\n")
            else:
                emit(body)
            i = min(j + open_len, n)
        elif c == "{":
            arg, i = _brace_group(s, i)
            emit(_render(arg or "", depth + 1, raw))
        elif c == "}":
            i += 1  # stray close brace: drop
        elif c in "~&":
            # tie, or an alignment tab between table cells
            emit(" ")
            i += 1
        elif c == "-" and s[i:i + 3] == "---":
            emit("\u2014")
            i += 3
        elif c == "-" and s[i:i + 2] == "--":
            emit("\u2013")
            i += 2
        elif c == "`" and s[i:i + 2] == "``":
            emit("\u201c")
            i += 2
        elif c == "'" and s[i:i + 2] == "''":
            emit("\u201d")
            i += 2
        else:
            emit(c)
            i += 1
    return "".join(out)


def extract_latex_text(payload: bytes) -> str:
    """Render a LaTeX payload to text. ValueError only."""
    src = payload.decode("utf-8", errors="replace")
    # NUL never occurs in legitimate TeX source and is the sentinel
    # alphabet below — strip it FIRST so a crafted \x00<idx>\x00 in the
    # input can neither crash the un-parking nor substitute parked
    # content (hostile-input hardening, pinned by test)
    src = src.replace("\x00", "")
    raw: list[str] = []
    src = _park_verbatim(src, raw)
    src = _strip_comments(src)
    m = re.search(r"\\begin\{document\}", src)
    if not m:
        raise ValueError("no \\begin{document} body")
    body, _ = _find_env_end(src, m.end(), "document")
    text = _collapse(_render(body, 0, raw))
    # un-park verbatim/math blocks after whitespace normalization
    return re.sub(r"\x00(\d+)\x00", lambda mm: raw[int(mm.group(1))], text)


def build_latex(paragraphs: list[str], *, title: str | None = None,
                sections: bool = False, math: str | None = None) -> bytes:
    r"""Writer twin: wrap paragraphs into a complete LaTeX document with
    a preamble, comments, and rotating inline decorations, so the
    extractor's oracle can state the expected text in closed form.
    Each paragraph is emitted verbatim (no decoration the renderer
    would alter); ``sections`` interleaves \section titles; ``math``
    appends one display formula."""
    lines = [
        "\\documentclass[11pt]{article}",
        "% writer-twin fixture",
        "\\usepackage[utf8]{inputenc}",
        "\\title{" + (title or "Fixture") + "}",
        "\\begin{document}",
    ]
    if title is not None:
        lines.append("\\section{" + title + "}")
    for k, p in enumerate(paragraphs):
        if sections and k:
            lines.append("\\subsection{Part " + str(k) + "}")
        lines.append(p)
        # standalone comment line: the strip eats it INCLUDING its
        # newline, so the blank separator line below must survive alone
        lines.append("% inter-paragraph comment")
        lines.append("")
    if math is not None:
        lines.append("\\begin{equation}")
        lines.append(math)
        lines.append("\\end{equation}")
    lines.append("\\end{document}")
    return "\n".join(lines).encode("utf-8")
