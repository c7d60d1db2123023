"""Outlink extraction and the host-level link graph.

The reference keys everything on a single request url
(/root/reference/ocr_request.go:6-17) and never looks INTO a page for
links; a crawl pipeline must — the link graph drives ranking,
prioritisation, and spam heuristics.  Extraction here is pure Catalyst:
three `regexp_extract_all` passes (double-quoted, single-quoted, bare
href values — disjoint classes, so no double counting) keep the hot
path JVM-side with zero Python, and only absolute http(s) targets
survive (relative-link resolution needs per-page base handling the
graph doesn't: hosts are what we aggregate).

Scale shape: extraction is a projection (no shuffle); the host-edge
aggregate is one hash agg on a (src_host, dst_host) key.  Host keys are
skewed (big sites attract links) — the aggregate itself is safe
(map-side combine collapses the skew before the exchange) but anyone
JOINING on dst_host downstream should salt it, as the two-phase host
aggregate in pipeline/metrics.py does.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from open_ocr_spark.dataops.words import collapse

# The attribute name must start at a whitespace boundary — `(?:[^>]*\s)?`
# instead of `[^>]*` — or `data-href` / `xlink:href` (attribute names in
# which "href" is a mere suffix) would match and fabricate outlinks the
# page's real link structure does not have.  Both HTML link-carrying
# elements are covered: `<a>` and `<area>` (imagemaps); the tag name must
# be followed by whitespace, so `<abbr`/`<article` never match.
_TAG = r"<[aA](?:[rR][eE][aA])?\s"
_HREF_DQ = _TAG + r'(?:[^>]*\s)?[hH][rR][eE][fF]\s*=\s*"([^"]*)"'
_HREF_SQ = _TAG + r"(?:[^>]*\s)?[hH][rR][eE][fF]\s*=\s*'([^']*)'"
_HREF_BARE = _TAG + r"(?:[^>]*\s)?[hH][rR][eE][fF]\s*=\s*([^\s>\"'][^\s>]*)"


def extract_links(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(src_url, dst_url): one row per absolute http(s) outlink occurrence
    (repeated links repeat — callers distinct if they need to) from both
    ``<a href>`` anchors and ``<area href>`` imagemap regions.  The html
    column may be binary (decoded utf-8 JVM-side) or string.

    Charset note — this utf-8 decode intentionally diverges from the
    extraction kernel's sniff-then-replace policy (kernels/htmltree.py
    sniff_charset): link extraction only consumes the ASCII-compatible
    ``<a href=...>`` byte structure, which every web charset this engine
    sniffs (cp1252/shift_jis/gb18030/cp949 are all ASCII supersets)
    encodes identically, so staying JVM-side with a single decode is the
    right trade.  Non-ASCII bytes inside an href may surface as mojibake
    under a non-utf-8 charset; callers with such corpora should decode
    under the sniff policy first and pass the string column."""
    html = F.col(html_col)
    if dict(pages.dtypes)[html_col] == "binary":
        html = F.decode(html, "UTF-8")
    hrefs = F.concat(
        F.regexp_extract_all(html, F.lit(_HREF_DQ), F.lit(1)),
        F.regexp_extract_all(html, F.lit(_HREF_SQ), F.lit(1)),
        F.regexp_extract_all(html, F.lit(_HREF_BARE), F.lit(1)),
    )
    return (
        pages.select(
            F.col(url_col).alias("src_url"),
            F.explode(hrefs).alias("dst_url"),
        )
        .filter(
            F.col("dst_url").startswith("http://")
            | F.col("dst_url").startswith("https://")
        )
    )


def host_edges(links: DataFrame) -> DataFrame:
    """(src_host, dst_host, n_links): the host-level link graph with link
    multiplicity.  One hash-aggregate shuffle; hosts lowercased so the
    graph is spelling-insensitive."""
    return (
        links.select(
            F.lower(F.parse_url(F.col("src_url"), F.lit("HOST"))).alias(
                "src_host"
            ),
            F.lower(F.parse_url(F.col("dst_url"), F.lit("HOST"))).alias(
                "dst_host"
            ),
        )
        .filter(F.col("src_host").isNotNull() & F.col("dst_host").isNotNull())
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("n_links"))
    )


# --- anchor text ---------------------------------------------------------
# Anchor text is the web's free labeling signal (it describes the TARGET
# page): per-target aggregation feeds ranking features and query-document
# training pairs.  Extraction is one case-insensitive regex with two
# capture groups over text-only anchors (<a href="...">text</a> with no
# nested markup — nested-markup anchors yield an empty capture and are
# filtered; structured DOM extraction lives in the kernel, this is the
# JVM-side bulk path).  Only the double-quoted href form carries anchor
# text here: the bare/single-quoted passes in extract_links stay
# href-only because aligning THREE regex passes' capture arrays would
# triple-scan the page for a rare quoting style.
_ANCHOR = (
    r'(?i)<a\s(?:[^>]*\s)?href\s*=\s*"([^"]*)"[^>]*>([^<]*)</a>'
)


def extract_anchors(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(src_url, dst_url, anchor_text): one row per absolute-http(s)
    text-only anchor occurrence; anchor text is whitespace-collapsed and
    trimmed, empty anchors dropped.  Pure Catalyst: two capture-group
    extractions of the SAME regex zip positionally, so href and text
    stay paired without any per-row Python."""
    html = F.col(html_col)
    if dict(pages.dtypes)[html_col] == "binary":
        html = F.decode(html, "UTF-8")
    pairs = F.arrays_zip(
        F.regexp_extract_all(html, F.lit(_ANCHOR), F.lit(1)).alias("dst_url"),
        F.regexp_extract_all(html, F.lit(_ANCHOR), F.lit(2)).alias("raw"),
    )
    return (
        pages.select(
            F.col(url_col).alias("src_url"),
            F.explode(pairs).alias("p"),
        )
        .select(
            "src_url",
            F.col("p.dst_url").alias("dst_url"),
            collapse(F.col("p.raw")).alias("anchor_text"),
        )
        .filter(
            (
                F.col("dst_url").startswith("http://")
                | F.col("dst_url").startswith("https://")
            )
            & (F.col("anchor_text") != "")
        )
    )


def anchor_text_stats(anchors: DataFrame) -> DataFrame:
    """Per-target anchor profile: (dst_url, n_anchors, n_unique_texts,
    top_anchor_text, top_n) with the mode tie-broken by text ascending
    (binary collation on both engines -> deterministic).

    Scale shape: ONE hash aggregate on (dst_url, anchor_text) — map-side
    combine absorbs popular-target skew — then ONE window exchange on
    dst_url over the already-collapsed distinct texts (tiny relative to
    occurrences).  No join-back, no second scan."""
    from pyspark.sql import Window

    counts = anchors.groupBy("dst_url", "anchor_text").agg(
        F.count("*").alias("n")
    )
    by_dst = Window.partitionBy("dst_url")
    ranked = counts.select(
        "dst_url",
        "anchor_text",
        "n",
        F.sum("n").over(by_dst).alias("n_anchors"),
        F.count("*").over(by_dst).alias("n_unique_texts"),
        F.row_number()
        .over(by_dst.orderBy(F.desc("n"), F.asc("anchor_text")))
        .alias("rn"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "dst_url",
        "n_anchors",
        "n_unique_texts",
        F.col("anchor_text").alias("top_anchor_text"),
        F.col("n").alias("top_n"),
    )


def extract_links_resolved(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(src_url, dst_url): every href occurrence — relative OR absolute —
    resolved against the page URL per the RFC 3986 policy
    (dataops/resolveurl.py).  This is what extract_links should feed a
    real frontier: most of the web's link graph is relative hrefs, which
    the absolute-only filter drops.  Foreign-scheme targets (mailto:,
    javascript:) resolve to themselves and are filtered to http(s) at
    the end; still one pure projection — no join, no shuffle beyond the
    explode.  Honors ``<base href>`` (WHATWG §4.2.3): the page's first
    base tag, itself resolved against the page URL, replaces the page URL
    as the resolution base.

    Plan shape: resolution runs through the STAGED resolver
    (resolveurl.with_resolved) — the Column-builder form inlines the
    base subtree ~6× and the http(s) filter substitutes the whole alias
    twice more, which multiplied this plan to 5,900+ regex nodes (553 KB
    optimized plan, ~13 s warm at sf0.1 for 30 k rows).  Staging the
    base resolution BEFORE the explode (once per page, not per href) and
    the href resolution through attribute-backed stages keeps the plan
    linear in the policy size; the final filter substitutes only a
    CASE over plain attributes."""
    from open_ocr_spark.dataops.resolveurl import with_resolved

    html = F.col(html_col)
    if dict(pages.dtypes)[html_col] == "binary":
        html = F.decode(html, "UTF-8")
    hrefs = F.concat(
        F.regexp_extract_all(html, F.lit(_HREF_DQ), F.lit(1)),
        F.regexp_extract_all(html, F.lit(_HREF_SQ), F.lit(1)),
        F.regexp_extract_all(html, F.lit(_HREF_BARE), F.lit(1)),
    )
    staged = pages.select(
        F.col(url_col).alias("src_url"),
        base_href_raw(html).alias("__raw_base"),
        hrefs.alias("__hrefs"),
    )
    # <base href> resolution, once per PAGE (pre-explode).  A NULL raw
    # base resolves to NULL through every branch of the frozen policy,
    # so coalesce(…, src_url) is exactly the "no base tag -> the page
    # URL" rule; a non-null raw base never resolves to NULL
    # (concat over non-null regexp extracts), so the coalesce is inert
    # for it.
    staged = with_resolved(staged, "src_url", "__raw_base", "__base0")
    staged = staged.withColumn(
        "base", F.coalesce(F.col("__base0"), F.col("src_url"))
    )
    # the base's four resolver parts are ALSO per-page: extract them
    # before the explode so they ride the Generate as plain attributes
    # instead of being re-extracted from the same base string per href
    from open_ocr_spark.dataops.resolveurl import (
        resolve_against_parts,
        with_base_parts,
    )

    staged = with_base_parts(staged, "base", "__bp__").select(
        "src_url",
        "__bp__scheme",
        "__bp__origin",
        "__bp__bpath",
        "__bp__basepq",
        F.explode("__hrefs").alias("__href"),
    )
    staged = resolve_against_parts(staged, "__bp__", "__href", "dst_url")
    return staged.select("src_url", "dst_url").filter(
        F.col("dst_url").startswith("http://")
        | F.col("dst_url").startswith("https://")
    )


# <base href> wins over the page URL as the resolution base (WHATWG HTML
# §4.2.3: the FIRST base element with an href; itself resolved against
# the page URL since it may be relative).
_BASE_HREF = (
    r"(?i)<base(?:[^>]*\s)?href\s*=\s*"
    r"(?:\"([^\"]*)\"|'([^']*)'|([^\s>\"'][^\s>]*))"
)


def base_href_raw(html: Column) -> Column:
    """The UNRESOLVED first ``<base href>`` value (any quote form), NULL
    when absent or empty — the base-tag extraction of
    extract_links_resolved, which resolves it once per page."""
    return F.coalesce(
        *[
            F.nullif(F.regexp_extract(html, _BASE_HREF, g), F.lit(""))
            for g in (1, 2, 3)
        ]
    )


_REL_PREV = (
    r"(?is)<link\s[^>]*rel\s*=\s*[\"']?prev[\"']?[^>]*"
    r"href\s*=\s*[\"']([^\"']*)[\"']"
)


def pagination_first_page(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(url, first_page, page_idx, looped): collapse rel=prev pagination
    chains so every page of a multi-page article maps to its FIRST page
    — the key a dedup/extraction pipeline groups page-2..N fragments
    under before stitching.  The rel=prev href (resolved per RFC 3986)
    is exactly a redirect edge, so the pointer-doubling resolver
    (dataops/redirects.py) does the walk: page_idx is the hop count
    (0-based: the first page of a sequence, and any page without a prev
    link, is its own first_page at idx 0), and pathological prev-cycles
    surface as looped=true instead of an infinite walk."""
    from open_ocr_spark.dataops.redirects import resolve_redirect_chains

    html = F.col(html_col)
    if dict(pages.dtypes)[html_col] == "binary":
        html = F.decode(html, "UTF-8")
    prev = F.nullif(F.regexp_extract(html, _REL_PREV, 1), F.lit(""))
    edges = pages.select(
        F.col(url_col).alias("url"),
        F.when(prev.isNotNull(), F.lit(301)).otherwise(F.lit(200)).alias(
            "status"
        ),
        prev.alias("location"),
    )
    return resolve_redirect_chains(edges).select(
        "url",
        F.col("final_url").alias("first_page"),
        F.col("hops").alias("page_idx"),
        "looped",
    )
