"""HTML microdata (schema.org) extraction: flat (item, prop, value)
records from the attribute-bearing node tree.

Complements the JSON-LD reader (dataops/htmlmeta.py): schema.org data
embedded as element attributes (WHATWG HTML §5, "Microdata") instead of
a script block. Semantics implemented from the public spec:

- ``itemscope`` starts an item; ``itemtype`` names its type (first
  token of the attribute).
- ``itemprop`` on a descendant contributes a property; the value is
  element-dependent: meta→content, a/area/link→href,
  img/source/track→src, time→datetime (text fallback),
  data/meter→value, else the whitespace-collapsed text content.
  (object/embed/iframe/audio/video carry no extractable text and are
  dropped wholesale by the shared tokenizer — htmltree.SKIP_TAGS —
  so their src/data forms are declared out of scope here.)
- an element with BOTH itemprop and itemscope is a nested item: its
  properties flatten into the parent under dotted names
  (``author.name``), the common tabular projection. An ``itemscope``
  WITHOUT ``itemprop`` inside another item is NOT part of it — it is
  its own top-level item (spec: the item tree is defined by itemprop
  edges, not element nesting).
- a multi-token ``itemprop`` ("name headline") yields one record per
  token.
- ``itemref`` is out of scope (declared): it needs document-global id
  resolution that almost no real-world markup uses.

Depth cap: nested-item flattening stops at 5 levels (hostile input);
deeper structure is dropped, never an exception.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from open_ocr_spark.kernels.htmltree import collapse_ws, parse_html

_MAX_NEST = 5

_SRC_TAGS = {"img", "source", "track"}
_HREF_TAGS = {"a", "area", "link"}


def _prop_value(node) -> str:
    attrs = node.attrs
    tag = node.tag
    if tag == "meta":
        return (attrs.get("content") or "").strip()
    if tag in _HREF_TAGS:
        return (attrs.get("href") or "").strip()
    if tag in _SRC_TAGS:
        return (attrs.get("src") or "").strip()
    if tag == "time":
        dt = (attrs.get("datetime") or "").strip()
        if dt:
            return dt
    if tag in ("data", "meter"):
        return (attrs.get("value") or "").strip()
    return collapse_ws(" ".join(node.iter_text())).strip()


def _walk_item(root, root_prefix: str, root_depth: int, out: list) -> None:
    """Collect an item's properties from its subtree, flattening nested
    items under dotted prefixes and NOT descending into unrelated
    (itemprop-less) itemscopes. Iterative (explicit stack) so a
    pathologically deep tag soup can never blow the Python recursion
    limit — the kernel must stay total on hostile pages."""
    # stack of (element, prefix, item_depth); attribute logic runs at
    # POP time and children are pushed reversed, so properties emit in
    # exact document (pre-)order
    def _push(stack, node, prefix, depth):
        stack.extend(
            (c, prefix, depth)
            for c in reversed(node.children)
            if type(c) is not str
        )

    stack: list = []
    _push(stack, root, root_prefix, root_depth)
    while stack:
        node, prefix, depth = stack.pop()
        attrs = node.attrs
        has_prop = "itemprop" in attrs
        has_scope = "itemscope" in attrs
        if has_scope and not has_prop:
            continue  # a sibling top-level item, not ours
        if has_prop:
            names = [t for t in (attrs.get("itemprop") or "").split() if t]
            if has_scope:
                if depth < _MAX_NEST:
                    # one subtree walk per name, matching the dotted
                    # fan-out contract (multi-name nested items are
                    # rare); reversed so name order survives the LIFO
                    for name in reversed(names):
                        _push(stack, node, f"{prefix}{name}.", depth + 1)
                continue
            value = _prop_value(node)
            for name in names:
                out.append((f"{prefix}{name}", value))
            # a scalar prop element can still contain further props of
            # the SAME item (<div itemprop=x>…<span itemprop=y>)
        _push(stack, node, prefix, depth)


def extract_microdata(raw) -> list[tuple[int, str, str, str]]:
    """[(item_ord, item_type, prop, value)] for every top-level item in
    document order. item_type is the first itemtype token ('' if
    absent)."""
    root = parse_html(raw, attrs=True)
    items = []
    for node in root.iter():
        if type(node) is str or node is root:
            continue
        attrs = node.attrs
        if "itemscope" in attrs and "itemprop" not in attrs:
            items.append(node)
    out = []
    for ord_, item in enumerate(items):
        itype = (item.attrs.get("itemtype") or "").split()
        props: list[tuple[str, str]] = []
        _walk_item(item, "", 0, props)
        for prop, value in props:
            out.append((ord_, itype[0] if itype else "", prop, value))
    return out


def microdata_items(
    pages: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, item_ord, item_type, prop, value): exploded microdata
    records — Arrow-batched kernel, one output row per property, no
    shuffle (one map_rows pass over the page partition), mirroring
    kernels/tables.py html_tables."""
    from open_ocr_spark.pipeline.stages import map_rows

    def _extract(i, raw):
        if raw is None:
            return
        for o, t, p, v in extract_microdata(bytes(raw)):
            yield int(i), o, t, p, v

    return map_rows(
        pages.select(id_col, html_col),
        f"{id_col} long, item_ord int, item_type string, "
        "prop string, value string",
        _extract,
    )
