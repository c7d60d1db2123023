"""Canonical-key assignment: the one URL a crawl dedups/groups under.

A capture's canonical identity comes from three places, in a frozen
priority order (what search-engine dedup pipelines do):

1. the page's own ``<link rel=canonical>`` (authoritative author
   signal; routinely RELATIVE, so it resolves against the page URL per
   RFC 3986);
2. else the HTTP/meta-refresh redirect chain's FINAL target
   (dataops/redirects.py pointer doubling — ``<meta http-equiv=refresh
   content="N; url=...">`` edges union with the 3xx edges, because the
   web uses both interchangeably);
3. else the URL itself.

The winner is then normalized by canonicalize_url (dataops/urls.py) so
spelling variants of the same canonical collapse.  NON-RECURSIVE by
design: a rel-canonical pointing at a page that itself declares another
canonical is taken at one step — chasing author signals transitively
lets one spam page rewrite a whole site's identity.

Scale shape: one projection per signal, the doubling's K pinned
self-joins for chains, one left join of pages against chain finals on
the uniform url key.  No Python, no collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from open_ocr_spark.dataops.redirects import resolve_redirect_chains
from open_ocr_spark.dataops.urls import canonicalize_url

# <meta http-equiv=refresh content="N; url=target"> — the content attr
# may come before or after http-equiv (both patterns below); a bare "N"
# content (refresh-in-place) carries no target.
_REFRESH_CONTENT = (
    r"(?is)<meta\s[^>]*http-equiv\s*=\s*[\"']?refresh[\"']?[^>]*"
    r"content\s*=\s*[\"']([^\"']*)[\"']"
)
_REFRESH_CONTENT_REV = (
    r"(?is)<meta\s[^>]*content\s*=\s*[\"']([^\"']*)[\"'][^>]*"
    r"http-equiv\s*=\s*[\"']?refresh[\"']?"
)
_REFRESH_URL = r"(?i)url\s*=\s*([^\s\"']+)"

_REL_CANONICAL = (
    r"(?is)<link\s[^>]*rel\s*=\s*[\"']?canonical[\"']?[^>]*"
    r"href\s*=\s*[\"']([^\"']*)[\"']"
)


def meta_refresh_raw(html: Column) -> Column:
    """The UNRESOLVED meta-refresh target string; NULL when the page has
    no refresh or a target-less one (bare "N" refresh-in-place)."""
    content = F.coalesce(
        F.nullif(F.regexp_extract(html, _REFRESH_CONTENT, 1), F.lit("")),
        F.nullif(
            F.regexp_extract(html, _REFRESH_CONTENT_REV, 1), F.lit("")
        ),
    )
    return F.nullif(F.regexp_extract(content, _REFRESH_URL, 1), F.lit(""))


def rel_canonical_raw(html: Column) -> Column:
    """The UNRESOLVED rel=canonical href; NULL when absent or empty."""
    return F.nullif(F.regexp_extract(html, _REL_CANONICAL, 1), F.lit(""))


def assign_canonical(
    pages: DataFrame,
    captures: DataFrame | None = None,
    max_hops: int = 8,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """(url, canonical_key, signal): the frozen-priority canonical
    identity per page.  ``captures`` optionally carries HTTP redirect
    rows (url, status, location); meta-refresh edges come from the pages
    themselves and union in.  ``signal`` names the winning source
    ('rel_canonical' / 'redirect' / 'self') so dedup audits can slice by
    provenance."""
    html = F.col(html_col)
    if dict(pages.dtypes)[html_col] == "binary":
        html = F.decode(html, "UTF-8")
    url = F.col(url_col)
    # Stage the raw signal extracts as columns and resolve through
    # with_resolved: resolve_url over the raw extract as one Column
    # inlines the extraction chain ~8× inside the resolution CASE (this
    # plan measured 124 KB / 427 regex nodes, large enough that the
    # generated projection blew Janino's method limit and fell back to
    # interpreted eval).  A NULL raw resolves to NULL through every
    # branch.
    from open_ocr_spark.dataops.resolveurl import with_resolved

    base = pages.select(
        url.alias("url"),
        rel_canonical_raw(html).alias("__rel_raw"),
        meta_refresh_raw(html).alias("__refresh_raw"),
    )
    base = with_resolved(base, "url", "__rel_raw", "rel_canon")
    base = with_resolved(base, "url", "__refresh_raw", "refresh_target")
    # PIN the signal table: it feeds two consumers (the refresh-edge
    # filter and the final join-back), and predicate pushdown — which has
    # no duplicate-expression guard, unlike CollapseProject — would
    # otherwise substitute the whole staged extraction chain into the
    # pushed filter (measured: 506 copies of the refresh regex, a 124 KB
    # plan whose generated projection blew Janino's method limit).  One
    # materialization of (url, rel_canon, refresh_target) per corpus is
    # the stage-table shape the other multi-consumer dataops pin too.
    base = base.drop("__rel_raw", "__refresh_raw").localCheckpoint(
        eager=True
    )
    refresh_edges = base.where(F.col("refresh_target").isNotNull()).select(
        "url",
        F.lit(301).alias("status"),
        F.col("refresh_target").alias("location"),
    )
    edges = refresh_edges
    if captures is not None:
        http = captures.select("url", "status", "location")
        # one edge per url: an HTTP 3xx beats the page's meta refresh
        # (the refresh body was never served when the server redirected)
        edges = http.unionAll(
            refresh_edges.join(http.select("url"), "url", "left_anti")
        )
    finals = resolve_redirect_chains(edges, max_hops=max_hops).select(
        F.col("url").alias("f_url"),
        F.col("final_url"),
        F.col("hops"),
    )
    joined = base.join(finals, base["url"] == finals["f_url"], "left")
    moved = F.col("hops").isNotNull() & (F.col("hops") > 0)
    return joined.select(
        "url",
        canonicalize_url(
            F.coalesce(
                F.col("rel_canon"),
                F.when(moved, F.col("final_url")),
                F.col("url"),
            )
        ).alias("canonical_key"),
        F.when(F.col("rel_canon").isNotNull(), F.lit("rel_canonical"))
        .when(moved, F.lit("redirect"))
        .otherwise(F.lit("self"))
        .alias("signal"),
    )
