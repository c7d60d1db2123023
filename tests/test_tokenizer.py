"""Tokenizer tier: markup edge cases (comments, raw-text elements,
entities, self-closing, implicit closes, truncated markup), attribute
parsing for markdown and microdata, and the linear-time tag token.

Expected strings are pinned. The edge-case, markdown and microdata
expectations are the outputs of the stdlib tree builder this tokenizer
replaced."""

import pathlib
import time

import pytest

from open_ocr_spark.kernels.dispatch import extract_document
from open_ocr_spark.kernels.html_extract import (
    _emit_paragraphs,
    extract_main_text,
    select_main_node,
)
from open_ocr_spark.kernels.html_markdown import html_to_markdown
from open_ocr_spark.kernels.htmltree import parse_html
from open_ocr_spark.kernels.microdata import extract_microdata


def _extract_with(parser, raw, aggressive=True):
    root = parser(raw)
    main = select_main_node(root) or root
    return "\n\n".join(_emit_paragraphs(main, strip_boilerplate=aggressive))


CASES = [
    b"<body><!-- <p>not text</p> --><article><p>real</p></article></body>",
    b"<body><script>var a = '<p>fake</p>';</script><article><p>real</p></article></body>",
    b"<body><style>p::before{content:'<div>'}</style><article><p>real</p></article></body>",
    b"<body><article><p>one<br/>two</p><hr><p>three &amp; four</p></article></body>",
    b"<body><article><p>unclosed<p>second</article></body>",
    b"<body><ARTICLE><P>upper case</P></ARTICLE></body>",
    b"<body><article><p>a &lt;tag&gt; &#65; &nbsp;b</p></article></body>",
    b"<body><article><p>text</p><img src='x.png'><p>more</p></article></body>",
    b"<!DOCTYPE html><body><article><p>doc</p></article></body>",
    b"<body><article><p>stray</b></i> end tags</p></article></body>",
    b"<body><textarea><p>not content</p></textarea><article><p>yes</p></article></body>",
]
EXPECTED = dict(zip(CASES, [
    "real",
    "real",
    "real",
    "one two\n\nthree & four",
    "unclosed\n\nsecond",
    "upper case",
    "a <tag> A b",
    "text\n\nmore",
    "doc",
    "stray end tags",
    "yes",
]))


@pytest.mark.parametrize("html", CASES)
def test_tokenizer_edge_cases_match_stdlib(html):
    assert _extract_with(parse_html, html) == EXPECTED[html]


def test_entities_unescaped():
    assert (
        extract_main_text(b"<body><article><p>a &amp; b &#8212; c</p></article></body>")
        == "a & b — c"
    )


def test_script_with_embedded_close_lookalike():
    html = b"<body><script>if(a</script1){}</script><article><p>ok</p></article></body>"
    # tolerant: whatever happens, no crash and deterministic output
    out1 = extract_main_text(html)
    out2 = extract_main_text(html)
    assert out1 == out2


def test_truncated_markup_no_raise():
    # an unterminated tag runs to end of input (WHATWG "EOF in tag"), so
    # a bare `<div` is no text at all
    assert {frag: extract_main_text(frag) for frag in (
        b"<div", b"<div><p>half <", b"<!-- unclosed", b"<script>xx",
        b"<![CDATA[zz", b"</closing-only>", b"<p>&brokenentity",
        b"<p>hi</p><a <a",
    )} == {
        b"<div": "",
        b"<div><p>half <": "half <",
        b"<!-- unclosed": "",
        b"<script>xx": "",
        b"<![CDATA[zz": "",
        b"</closing-only>": "",
        b"<p>&brokenentity": "&brokenentity",
        b"<p>hi</p><a <a": "hi",
    }


def test_quote_opens_value_only_after_equals():
    # the apostrophe is part of an attribute name, not a quoted value
    assert extract_main_text(b"<body><p It's>kept</p><p>too</p></body>") == "kept\n\ntoo"


# --- `>` inside a quoted attribute value -----------------------------------

_GT_PAGE = (b'<body><article><p>see <a title="x > y" href="/z">the link</a> and '
            b'<img alt="a > b" src="/i.png"> here</p></article></body>')


def test_gt_in_quoted_value_txt():
    assert extract_main_text(_GT_PAGE) == "see the link and here"


def test_gt_in_quoted_value_markdown():
    assert html_to_markdown(_GT_PAGE) == "see [the link](/z) and ![a > b](/i.png) here"


def test_gt_in_quoted_value_microdata():
    html = (b'<div itemscope itemtype="https://schema.org/Product">'
            b'<meta itemprop="name" content="x > y"><span itemprop=sku>S1</span></div>')
    assert extract_microdata(html) == [
        (0, "https://schema.org/Product", "name", "x > y"),
        (0, "https://schema.org/Product", "sku", "S1"),
    ]


# --- attribute rules: quoted, bare, valueless, entity, duplicate, `x/>` -----


def test_attrs_only_on_request():
    raw = b"<p class=a>x</p>"
    (p,) = parse_html(raw).children
    assert p.attrs is None
    (p,) = parse_html(raw, attrs=True).children
    assert p.attrs == {"class": "a"}


def test_attribute_heavy_markdown():
    html = (b'<html><body><article>'
            b'<h1 class=title>Head</h1>'
            b'<p>Go <a HREF="/a?x=1&amp;y=2" title=\'t\' hidden>quoted</a>, '
            b'<a href=/bare/path>bare</a>, <a href="/first" href="/second">dup</a> '
            b'and <a>none</a>.</p>'
            b'<p><img src="/i.png" alt="A &amp; B" ismap> <img alt="no src"> '
            b"<img alt='It&#39;s' src=/t.gif/></p>"
            b'</article></body></html>')
    expected = ("# Head\n\nGo [quoted](/a?x=1&y=2), [bare](/bare/path), "
                "[dup](/second) and none.\n\n![A & B](/i.png) ![It's](/t.gif/)")
    assert html_to_markdown(html, aggressive=True) == expected
    assert html_to_markdown(html, aggressive=False) == expected


def test_attribute_heavy_microdata():
    html = (b'<div itemscope itemtype="https://schema.org/Product https://x/y">'
            b'<span ITEMPROP=name>Widget &amp; Co</span>'
            b'<meta itemprop="price" content=\'9.99\'>'
            b'<a itemprop=url href=/p/1/>link</a>'
            b'<time itemprop="released" datetime="2024-01-02">Jan</time>'
            b'<data itemprop=sku value=A1 value=A2>x</data>'
            b'<img itemprop="image" src="/a.png?w=1&amp;h=2">'
            b'<div itemprop=brand itemscope><span itemprop="name headline">Acme</span></div>'
            b'<link itemprop=avail href>'
            b'</div>'
            b'<p itemscope><meta itemprop=k content="v &lt; w"></p>')
    t = "https://schema.org/Product"
    assert extract_microdata(html) == [
        (0, t, "name", "Widget & Co"),
        (0, t, "price", "9.99"),
        (0, t, "url", "/p/1/"),
        (0, t, "released", "2024-01-02"),
        (0, t, "sku", "A2"),
        (0, t, "image", "/a.png?w=1&h=2"),
        (0, t, "brand.name", "Acme"),
        (0, t, "brand.headline", "Acme"),
        (0, t, "avail", ""),
        (1, "", "k", "v < w"),
    ]


# --- linear-time scans on adversarial pages -------------------------------

_MB = 1 << 20


@pytest.mark.parametrize("unit", [b"<a ", b'<a b="'], ids=["open-tag", "open-quote"])
def test_unterminated_tags_extract_fast(unit):
    page = unit * (_MB // len(unit))
    t0 = time.perf_counter()
    assert extract_document(page) == ("", "ok", "")
    assert time.perf_counter() - t0 < 2.0


def test_stray_end_tags_parse_fast():
    # each stray end tag used to scan the whole open-element stack: 20 s
    # for this 140 KB page
    n = 20_000
    t0 = time.perf_counter()
    root = parse_html(b"<b>" * n + b"</x>" * n)
    assert time.perf_counter() - t0 < 2.0
    assert root.children[0].tag == "b"


def test_unterminated_rawtext_close_extracts_fast():
    page = b"<script>" + b"</script" * (_MB // 8)
    t0 = time.perf_counter()
    assert extract_main_text(page) == ""
    assert time.perf_counter() - t0 < 2.0


# --- deep nesting: the txt path walks without recursion ---------------------

_DEEP = 5_000


@pytest.mark.parametrize(
    "page, text",
    [
        (b"<div>x" * _DEEP, "\n\n".join(["x"] * _DEEP)),
        (b"<font size=2>y " * _DEEP, " ".join(["y"] * _DEEP)),
        (b"<p>" + b"<b>w " * _DEEP + b"</b>" * _DEEP + b"</p>",
         " ".join(["w"] * _DEEP)),
    ],
    ids=["unclosed-div", "unclosed-font", "nested-b"],
)
def test_deep_nesting_extracts(page, text):
    # crawl HTML leaves <font>/<div> unclosed by the thousand; a recursive
    # walk ended these in error:internal (RecursionError)
    assert extract_document(page) == (text, "ok", "")


_MD = {"config_vars": {"output_format": "md"}}


def _quote_ladder(n):
    """``q`` inside 1..n nested blockquotes, a quoted empty line between."""
    lines = []
    for k in range(1, n + 1):
        lines.append("> " * k + "q")
        if k < n:
            lines.append(("> " * k)[:-1])
    return "\n".join(lines)


@pytest.mark.parametrize(
    "page, markdown",
    [
        (b"<div>x" * _DEEP, "\n\n".join(["x"] * _DEEP)),
        (b"<li>x" * _DEEP, "\n\n".join(["x"] * _DEEP)),
        (b"<blockquote>q" * _DEEP, _quote_ladder(_DEEP)),
        (b"<ul><li>x" * _DEEP,
         "\n".join("  " * k + "- x" for k in range(_DEEP))),
        (b"<p>" + b"<b>w " * _DEEP + b"</b>" * _DEEP + b"</p>", None),
    ],
    ids=["unclosed-div", "unclosed-li", "unclosed-blockquote", "nested-list",
         "nested-b"],
)
def test_deep_nesting_extracts_markdown(page, markdown):
    # the markdown walkers recursed once per level: RecursionError at
    # ~300 nested <b> and ~1,000 nested blocks became error:internal
    text, status, error = extract_document(page, engine_args=_MD)
    assert (status, error) == ("ok", "")
    if markdown is None:
        assert text.count("w") == _DEEP and text.startswith("**w **w")
    else:
        assert text == markdown


def test_deep_nesting_between_table_and_row():
    from open_ocr_spark.kernels.tables import extract_tables

    page = b"<table>" + b"<div>" * _DEEP + b"<tr><td>x</td></tr>"
    assert extract_tables(page) == [(0, 0, 0, "x")]


# --- one tokenizer ----------------------------------------------------------


def test_no_second_html_tokenizer():
    pkg = pathlib.Path(__file__).resolve().parent.parent / "open_ocr_spark"
    banned = ("html.parser", "HTMLParser", "parse_html_stdlib")
    hits = [
        f"{path.relative_to(pkg)}: {word}"
        for path in sorted(pkg.rglob("*.py"))
        for word in banned
        if word in path.read_text(encoding="utf-8")
    ]
    assert hits == []


# Per-call switches that picked between two plans or two outputs of one
# operator. Each operator now has one: undecodable input is a null row
# (strict), md5 is the only dedup base hash and SimHash is always 62 bits
# (hashing, bits), and checkpoints sit where the plan needs them (pin).
# ``_pin``, a test-only plan hook, stays allowed.
_REMOVED_SWITCHES = ("strict", "hashing", "bits", "pin")


def test_no_strict_switch_or_stub_raise():
    """No function takes one of the removed switches as a parameter, and
    no dataops operator raises NotImplementedError in place of a
    result."""
    import ast

    pkg = pathlib.Path(__file__).resolve().parent.parent / "open_ocr_spark"
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg)
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.Lambda)):
                a = node.args
                for p in a.posonlyargs + a.args + a.kwonlyargs:
                    if p.arg in _REMOVED_SWITCHES:
                        hits.append(f"{rel}:{node.lineno}: {p.arg} parameter")
            elif isinstance(node, ast.Raise) and rel.parts[0] == "dataops":
                exc = node.exc.func if isinstance(node.exc, ast.Call) else node.exc
                if isinstance(exc, ast.Name) and exc.id == "NotImplementedError":
                    hits.append(f"{rel}:{node.lineno}: NotImplementedError")
    assert hits == []
