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
    """The inline markdown of ``node``'s children. Walks on an explicit
    stack, not recursion: crawl HTML nests inline tags thousands deep.
    A frame is (element, its child iterator, its rendered parts)."""
    top: list[str] = []
    stack = [(node, iter(node.children), top)]
    while stack:
        _, children, parts = stack[-1]
        for child in children:
            leaf = _inline_leaf(child)
            if leaf is None:
                stack.append((child, iter(child.children), []))
                break
            parts.append(leaf)
        else:
            el, _, parts = stack.pop()
            if stack:
                stack[-1][2].append(_inline_close(el, "".join(parts)))
    return "".join(top)


def _inline_leaf(child) -> str | None:
    """The markdown of a text run or of an element whose children need no
    walk; None for an element that wraps inline content."""
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
    return None


def _inline_close(el: Node, inner: str) -> str:
    """Wrap an element's rendered children: a link or emphasis markers."""
    if el.tag == "a":
        href = _attr(el, "href")
        if href and inner.strip():
            return f"[{inner.strip()}]({href})"
        return inner
    marker = _EMPHASIS.get(el.tag)
    if marker:
        return _wrap(inner, marker)
    return inner


def _inline_one(child) -> str:
    leaf = _inline_leaf(child)
    return _inline_close(child, _inline(child)) if leaf is None else leaf


def _list_lines(node: Node) -> list[str]:
    """Render a <ul>/<ol> as markdown lines (one block, '\\n'-joined by
    the caller). Nested lists indent 2 spaces per level; a block child of
    an <li> other than a nested list contributes its inline text to the
    item line (frozen simplification: items stay single-line), and an
    item with no text of its own is kept only above a kept nested line.
    Walks in document order on an explicit stack of (element, depth,
    item marker, or None for a list) entries, not recursion."""
    items: list[tuple[int, str, bool]] = []  # (depth, line, has text)
    stack = [(node, 0, None)]
    while stack:
        el, depth, marker = stack.pop()
        if marker is None:  # a list: its items, the first on top
            lis = [c for c in el.children
                   if type(c) is not str and c.tag == "li"]
            stack.extend(
                (li, depth, f"{i}. " if el.tag == "ol" else "- ")
                for i, li in reversed(list(enumerate(lis, 1)))
            )
            continue
        buf: list[str] = []
        subs: list[Node] = []
        for grand in el.children:
            if type(grand) is not str and grand.tag in ("ul", "ol"):
                subs.append(grand)
            elif type(grand) is not str and grand.tag in BLOCK_TAGS:
                buf.append(" " + _inline(grand) + " ")
            else:
                buf.append(_inline_one(grand))
        text = collapse_ws("".join(buf))
        items.append((depth, "  " * depth + marker + text, bool(text)))
        stack.extend((sub, depth + 1, None) for sub in reversed(subs))
    # the next kept line after an item is nested in it iff it is deeper
    lines: list[str] = []
    below = -1
    for depth, line, has_text in reversed(items):
        if has_text or below > depth:
            lines.append(line)
            below = depth
    return lines[::-1]


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


def _leaf_block(node: Node, strip: bool) -> list[str] | None:
    """The blocks of an element whose markdown needs no walk of nested
    blocks; None for a blockquote or a generic container."""
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
        lines = _list_lines(node)
        return ["\n".join(lines)] if lines else []
    if tag == "pre":
        content = "".join(node.iter_text()).strip("\n")
        if not content.strip():
            return []
        return ["```\n" + content + "\n```"]
    if tag == "hr":
        return ["---"]
    if tag == "table":
        return _table_block(node)
    return None


def _markdown(node: Node, strip: bool) -> str:
    """The markdown of ``node``: its blocks joined with ``"\\n\\n"``.

    A container's (blockquote or generic: article/section/div/li/dd/...)
    inline content accumulates into a paragraph buffer that flushes at
    every block-element boundary (the same boundary rule as
    html_extract._emit_paragraphs). Containers nest thousands deep in
    crawl HTML, so they are walked on an explicit stack of (container,
    child iterator, inline buffer, quote depth) frames.

    Every line of a block inside ``d`` blockquotes gets ``d`` ``> ``
    prefixes (an empty line ``d`` ``>``s), and so does the empty line
    between two blocks, at the depth of the innermost blockquote holding
    both. Each block records both depths, so the prefixes are written
    once, not again at every enclosing quote."""
    leaf = _leaf_block(node, strip)
    if leaf is not None:
        return "\n\n".join(leaf)
    # (quote depth, quote depth of the empty line before it, text)
    blocks: list[tuple[int, int, str]] = []
    low = 0  # the shallowest quote depth walked since the last block
    stack = [(node, iter(node.children), [], int(node.tag == "blockquote"))]
    while stack:
        _, children, buf, depth = stack[-1]
        for child in children:
            if type(child) is str or child.tag not in BLOCK_TAGS:
                buf.append(_inline_one(child))
                continue
            text = collapse_ws("".join(buf))
            buf.clear()
            leaf = _leaf_block(child, strip)
            for block in ([text] if text else []) + (leaf or []):
                blocks.append((depth, low, block))
                low = depth
            if leaf is None:
                stack.append((child, iter(child.children), [],
                              depth + (child.tag == "blockquote")))
                break
        else:
            text = collapse_ws("".join(buf))
            if text:
                blocks.append((depth, low, text))
                low = depth
            stack.pop()
            if stack:
                low = min(low, stack[-1][3])
    lines = []
    for i, (depth, sep, text) in enumerate(blocks):
        if i:
            lines.append(_quoted("", sep))
        lines.extend(_quoted(line, depth) for line in text.split("\n"))
    return "\n".join(lines)


def _quoted(line: str, depth: int) -> str:
    return "> " * depth + line if line else ("> " * depth)[:-1]


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
    return _markdown(main, aggressive)
