"""HTML → Markdown structured extraction: the "md" output format.

Reference parity: the reference's engine discovers its output file over the
format list ["txt", "hocr"] (/root/reference/tesseract_engine.go:194-262)
and switches formats with a config var (tesseract_engine_test.go:50). This
kernel is the engine-surface EXTENSION of that switch — a third format,
``output_format=md`` — using the SAME main-content selection and
boilerplate-strip policy as the txt path (html_extract.py) but preserving
document structure the txt path flattens: headings, lists, quotes, code,
tables, links, emphasis, images, as CommonMark-compatible text. A training
-data pipeline keeps structure because downstream filters and LLM
pretraining both want it (heading density, list ratio, code detection).

Frozen output policy (deterministic, byte-identical at any parallelism,
SURVEY.md §7.3):

- blocks joined with exactly ``"\\n\\n"``; inline text whitespace-collapsed
  per block; ``<pre>`` content is NOT collapsed (fenced verbatim).
- ATX headings (``#``·level), ``- `` bullets, ``N. `` ordered items,
  2-space nesting indent per list level, ``> `` quote prefix on every
  line, ``` fences, pipe tables with a ``---`` separator after row 1.
- markdown metacharacters in source TEXT runs are backslash-escaped
  (``\\ ` * _ [ ]``) so emitted markup is unambiguous; code-span content
  and URLs are never escaped (a backtick inside a code span switches the
  delimiter to double-backtick instead, per CommonMark).
- emphasis markers hug the content: boundary whitespace inside
  ``<strong>``/``<em>`` moves OUTSIDE the marker pair (``a ** b ** c``
  is not emphasis in CommonMark; ``a **b** c`` is).

Parses with the same tokenizer as the txt path, asking it for attributes
(``parse_html(raw, attrs=True)``): markdown reads href/src/alt, which the
txt hot path never parses. Same totality guarantee: never raises on
malformed bytes (error-as-value one level up, dispatch.py).
"""

from __future__ import annotations

import re

from open_ocr_spark.kernels.html_extract import select_main_node
from open_ocr_spark.kernels.htmltree import (
    BLOCK_TAGS,
    BOILERPLATE_TAGS,
    Node,
    collapse_ws,
    parse_html,
)

_ESCAPE_RE = re.compile(r"([\\`*_\[\]])")

_HEADINGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}

# inline wrappers: tag -> CommonMark delimiter
_EMPHASIS = {"strong": "**", "b": "**", "em": "*", "i": "*",
             "del": "~~", "s": "~~"}


def _esc(text: str) -> str:
    return _ESCAPE_RE.sub(r"\\\1", text)


def _attr(node: Node, name: str) -> str:
    return node.attrs.get(name) or ""  # a valueless attribute is None


def _wrap(inner: str, marker: str) -> str:
    """Emphasis with boundary whitespace moved outside the markers."""
    core = inner.strip()
    if not core:
        return inner
    lead = inner[: len(inner) - len(inner.lstrip())]
    trail = inner[len(inner.rstrip()):]
    return f"{lead}{marker}{core}{marker}{trail}"


def _code_span(node: Node) -> str:
    content = collapse_ws("".join(node.iter_text()))
    if not content:
        return ""
    if "`" in content:
        return f"`` {content} ``"
    return f"`{content}`"


def _inline(node: Node) -> str:
    return "".join(_inline_one(child) for child in node.children)


def _inline_one(child) -> str:
    if type(child) is str:
        return _esc(child)
    tag = child.tag
    if tag == "br":
        return " "
    if tag == "img":
        src = _attr(child, "src")
        if not src:
            return ""
        return f"![{_esc(collapse_ws(_attr(child, 'alt')))}]({src})"
    if tag == "code":
        return _code_span(child)
    inner = _inline(child)
    if tag == "a":
        href = _attr(child, "href")
        if href and inner.strip():
            return f"[{inner.strip()}]({href})"
        return inner
    marker = _EMPHASIS.get(tag)
    if marker:
        return _wrap(inner, marker)
    return inner


def _list_lines(node: Node, depth: int) -> list[str]:
    """Render a <ul>/<ol> as markdown lines (one block, '\\n'-joined by
    the caller). Nested lists indent 2 spaces per level; a block child of
    an <li> other than a nested list contributes its inline text to the
    item line (frozen simplification: items stay single-line)."""
    ordered = node.tag == "ol"
    lines: list[str] = []
    idx = 0
    for child in node.children:
        if type(child) is str or child.tag != "li":
            continue  # inter-item whitespace / malformed children
        idx += 1
        marker = f"{idx}. " if ordered else "- "
        buf: list[str] = []
        sub: list[str] = []
        for grand in child.children:
            if type(grand) is not str and grand.tag in ("ul", "ol"):
                sub.extend(_list_lines(grand, depth + 1))
            elif type(grand) is not str and grand.tag in BLOCK_TAGS:
                buf.append(" " + _inline(grand) + " ")
            else:
                buf.append(_inline_one(grand))
        text = collapse_ws("".join(buf))
        if text or sub:
            lines.append("  " * depth + marker + text)
            lines.extend(sub)
    return lines


def _table_rows(table: Node) -> list[Node]:
    rows: list[Node] = []
    for child in table.children:
        if type(child) is str:
            continue
        if child.tag == "tr":
            rows.append(child)
        elif child.tag in ("thead", "tbody", "tfoot"):
            rows.extend(
                c for c in child.children
                if type(c) is not str and c.tag == "tr"
            )
    return rows


def _table_block(table: Node) -> list[str]:
    """Pipe table: first row is the header row (whether <th> or <td>),
    then the --- separator, then the body. Ragged rows are padded to the
    widest row; cell pipes are escaped locally."""
    grid: list[list[str]] = []
    for tr in _table_rows(table):
        cells = [
            collapse_ws(_inline(c)).replace("|", "\\|")
            for c in tr.children
            if type(c) is not str and c.tag in ("td", "th")
        ]
        if cells:
            grid.append(cells)
    if not grid:
        return []
    width = max(len(r) for r in grid)
    grid = [r + [""] * (width - len(r)) for r in grid]
    out = ["| " + " | ".join(grid[0]) + " |",
           "| " + " | ".join(["---"] * width) + " |"]
    out.extend("| " + " | ".join(r) + " |" for r in grid[1:])
    return ["\n".join(out)]


def _container_blocks(node: Node, strip: bool) -> list[str]:
    """Walk a block container's children: inline content accumulates into
    a paragraph buffer that flushes at every block-element boundary (the
    same boundary rule as html_extract._emit_paragraphs)."""
    out: list[str] = []
    buf: list[str] = []

    def flush() -> None:
        text = collapse_ws("".join(buf))
        buf.clear()
        if text:
            out.append(text)

    for child in node.children:
        if type(child) is str or child.tag not in BLOCK_TAGS:
            buf.append(_inline_one(child))
            continue
        flush()
        out.extend(_block(child, strip))
    flush()
    return out


def _block(node: Node, strip: bool) -> list[str]:
    tag = node.tag
    if strip and tag in BOILERPLATE_TAGS:
        return []
    level = _HEADINGS.get(tag)
    if level:
        text = collapse_ws(_inline(node))
        return ["#" * level + " " + text] if text else []
    if tag == "p":
        text = collapse_ws(_inline(node))
        return [text] if text else []
    if tag in ("ul", "ol"):
        lines = _list_lines(node, 0)
        return ["\n".join(lines)] if lines else []
    if tag == "blockquote":
        inner = _container_blocks(node, strip)
        if not inner:
            return []
        joined = "\n\n".join(inner)
        return ["\n".join(
            ("> " + line) if line else ">" for line in joined.split("\n")
        )]
    if tag == "pre":
        content = "".join(node.iter_text()).strip("\n")
        if not content.strip():
            return []
        return ["```\n" + content + "\n```"]
    if tag == "hr":
        return ["---"]
    if tag == "table":
        return _table_block(node)
    # generic block container (article/section/div/li/dd/...)
    return _container_blocks(node, strip)


def html_to_markdown(raw: bytes | str, aggressive: bool = True) -> str:
    """Extract the main content of an HTML page as Markdown.

    ``aggressive`` is the same SWT dark_on_light recast as
    ``extract_main_text``: True prunes nav/header/footer/aside/form
    subtrees from the chosen candidate before emitting.

    Returns '' for pages with no content. Never raises on malformed
    input (error-as-value handled one level up, dispatch.py).
    """
    root = parse_html(raw, attrs=True)
    main = select_main_node(root)
    if main is None:
        main = root
    return "\n\n".join(_block(main, aggressive))
