"""URL canonicalization + canonical-URL dedup.

A crawl sees the same logical page under many spellings — scheme/host
case, explicit default ports, `www.` prefixes, trailing slashes,
tracking query parameters (`utm_*`, `fbclid`, `gclid`, `ref`), parameter
order, fragments.  The reference keys its whole pipeline on the request
url (ocr_request.go:21 `ImgUrl`); at corpus scale the url must be
canonicalized first or per-url dedup/grouping splinters.

All pure Catalyst: `parse_url` (JVM) decomposes, `filter`/`array_sort`
higher-order functions normalise the query string, `concat` reassembles.
No shuffle — canonicalization is a projection; downstream dedup shuffles
once on the canonical string (uniform key: hostnames are skewed but the
full canonical url is not; for per-HOST grouping salt the key, as the
two-phase host aggregate in pipeline/metrics.py does).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tracking parameters stripped during canonicalization (the common
# analytics families; callers with stricter policies pre-filter).
_TRACKING_RE = "^(utm_[^=]*|fbclid|gclid|ref)="


def canonicalize_url(url: Column | str) -> Column:
    """Canonical form of an http(s) URL:

    - scheme and host lowercased; `www.` prefix dropped
    - the scheme's DEFAULT port dropped (http:80, https:443); any other
      explicit port is KEPT — `ex.com:8080` is a different origin than
      `ex.com` and must not merge with it (`parse_url(..., 'HOST')`
      excludes every port, so the port is re-read from the AUTHORITY)
    - trailing slashes stripped from the path
    - tracking params dropped, surviving params sorted bytewise
    - fragment dropped

    Null-safe: a null url canonicalizes to null (no parse garbage).
    """
    col = F.col(url) if isinstance(url, str) else url
    proto = F.lower(F.try_parse_url(col, F.lit("PROTOCOL")))
    # Port from the authority tail (userinfo sits before '@', so a ':'
    # there cannot reach this anchor-at-end pattern).
    port = F.regexp_extract(
        F.coalesce(F.try_parse_url(col, F.lit("AUTHORITY")), F.lit("")),
        r":(\d+)$",
        1,
    )
    default_port = (
        ((proto == "http") & (port == "80"))
        | ((proto == "https") & (port == "443"))
    )
    host = F.concat(
        F.regexp_replace(
            F.lower(F.try_parse_url(col, F.lit("HOST"))), r"^www\.", ""
        ),
        F.when(
            (port != "") & ~default_port, F.concat(F.lit(":"), port)
        ).otherwise(F.lit("")),
    )
    path = F.regexp_replace(
        F.coalesce(F.try_parse_url(col, F.lit("PATH")), F.lit("")), "/+$", ""
    )
    params = F.filter(
        F.split(F.coalesce(F.try_parse_url(col, F.lit("QUERY")), F.lit("")), "&"),
        lambda p: (p != "") & ~p.rlike(_TRACKING_RE),
    )
    qs = F.array_join(F.array_sort(params), "&")
    return F.concat(
        proto,
        F.lit("://"),
        host,
        path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )


def dedup_by_canonical_url(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """(canonical_url, n_variants, rep_doc): one group per canonical URL
    with the variant count and the min-id representative — the url-level
    twin of exact content dedup (dedup.py), run FIRST in a crawl pipeline
    because it needs no content reads.  One hash-aggregate shuffle on the
    canonical string.

    A URL `canonicalize_url` cannot parse (relative path, missing scheme
    or host) falls back to its ORIGINAL spelling as its own canonical
    form: at crawl scale a crawler emits malformed records, and grouping
    them all under one NULL canonical would silently collapse every
    malformed document into a single representative."""
    return (
        df.select(
            F.coalesce(
                canonicalize_url(url_col), F.col(url_col)
            ).alias("canonical_url"),
            F.col(id_col),
        )
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_variants"),
            F.min(id_col).alias("rep_doc"),
        )
    )


# --- SURT keys + CDX index ------------------------------------------------------


def surt_key(url: Column | str) -> Column:
    """Sort-friendly URI Reordering Transform of an http(s) URL — the
    key every web-archive index (CDX) sorts by, because it groups a
    domain's subdomains and paths into one contiguous key range:
    ``https://news.example.com/a?b=1`` → ``com,example,news)/a?b=1``.

    Built on the same canonical pieces as canonicalize_url (lowercased
    de-www'd host, default port dropped, trailing-slash-free path,
    tracking-free bytewise-sorted query, no scheme, no fragment); the
    host segments reverse with pure Catalyst array ops. Null/unparseable
    urls yield NULL."""
    col = F.col(url) if isinstance(url, str) else url
    canon = canonicalize_url(col)
    host = F.try_parse_url(canon, F.lit("HOST"))
    # non-default port survives canonicalize_url inside AUTHORITY
    port = F.regexp_extract(
        F.coalesce(F.try_parse_url(canon, F.lit("AUTHORITY")), F.lit("")),
        r":(\d+)$",
        1,
    )
    rev_host = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.coalesce(F.try_parse_url(canon, F.lit("PATH")), F.lit(""))
    query = F.try_parse_url(canon, F.lit("QUERY"))
    return F.when(
        host.isNotNull(),
        F.concat(
            rev_host,
            F.when(port != "", F.concat(F.lit(":"), port)).otherwise(
                F.lit("")
            ),
            F.lit(")"),
            path,
            F.when(
                query.isNotNull() & (query != ""),
                F.concat(F.lit("?"), query),
            ).otherwise(F.lit("")),
        ),
    )


def cdx_index(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    payload_col: str = "html",
) -> DataFrame:
    """(surt, warc_ts, url, digest): the CDX lookup index for a capture
    table — one row per capture, content digest for revisit detection,
    ordered by (surt, warc_ts) so a domain or prefix lookup is ONE
    contiguous range scan.

    At archive scale this is the layout decision, not just a sort: the
    index table is written range-partitioned/sorted on surt (here an
    orderBy — a range exchange), so Iceberg/parquet min-max pruning
    turns "every capture of *.example.com/path*" into a few-file read
    instead of a full index scan."""
    return (
        pages.select(
            surt_key(F.col(url_col)).alias("surt"),
            F.col(ts_col).alias("warc_ts"),
            F.col(url_col).alias("url"),
            F.md5(F.col(payload_col).cast("binary")).alias("digest"),
        )
        .filter(F.col("surt").isNotNull())
        .orderBy("surt", "warc_ts", "url")
    )


# --- Registrable domains (public-suffix longest match) ---------------------------

# Frozen mini public-suffix list: enough of the real PSL
# (publicsuffix.org) to exercise every rule shape — one-label suffixes,
# multi-label ccTLD trees (co.uk/ac.uk/com.au/co.jp/com.cn/com.br),
# and a multi-label "private" suffix (github.io) whose owner-level
# grouping is the whole point of the PSL.  A production deployment
# swaps in the full published list (it is ~15k entries — still a
# broadcast-sized constant); every expression below is list-size
# independent.
PSL_MINI: tuple[str, ...] = (
    "com", "org", "net", "edu", "gov", "io", "info", "biz",
    "de", "fr", "es", "cn", "jp", "au", "br", "us", "ca", "eu", "uk",
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "ac.jp",
    "com.cn", "net.cn", "org.cn",
    "com.br", "net.br",
    "github.io",
)


def public_suffix_parts(url: Column | str) -> Column:
    """struct<host, suffix, registrable>: PSL longest-match decomposition
    of an http(s) URL's host (publicsuffix.org algorithm over PSL_MINI).

    - suffix = the LONGEST entry in the list that is a label-aligned
      suffix of the lowercased host; an unlisted TLD falls back to the
      last label (the PSL's implicit ``*`` rule).
    - registrable = suffix plus one more label to its left ("example" in
      www.example.co.uk -> example.co.uk); NULL when the host IS a
      public suffix or cannot gain a label (single-label host on the
      fallback path).

    Pure Catalyst: the candidate label-aligned suffixes come from one
    ``transform(sequence(...))`` over the host's labels and the longest
    match is ``element_at(filter(...), 1)`` — no explode, no join, no
    Python; a projection at any scale."""
    col = F.col(url) if isinstance(url, str) else url
    host = F.lower(F.try_parse_url(col, F.lit("HOST")))
    labels = F.split(host, r"\.")
    n = F.size(labels)
    psl = F.array(*[F.lit(s) for s in PSL_MINI])
    cands = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.struct(
            i.alias("i"),
            F.array_join(F.slice(labels, i, n - i + 1), ".").alias("suf"),
        ),
    )
    best = F.try_element_at(
        F.filter(cands, lambda c: F.array_contains(psl, c["suf"])), F.lit(1)
    )
    start = F.coalesce(best["i"], n)  # fallback: last label is the suffix
    suffix = F.array_join(F.slice(labels, start, n - start + 1), ".")
    registrable = F.when(
        start >= 2,
        F.array_join(F.slice(labels, start - 1, n - start + 2), "."),
    )
    return F.when(
        host.isNotNull() & (host != ""),
        F.struct(
            host.alias("host"),
            suffix.alias("suffix"),
            registrable.alias("registrable"),
        ),
    )


def registrable_domain_stats(
    pages: DataFrame, url_col: str = "url"
) -> DataFrame:
    """(registrable, suffix, n_urls, n_hosts): corpus rollup at the
    OWNER level — the grouping a crawl uses for per-site quotas, spam
    domains, and domain-diversity stats, where per-host grouping splits
    one owner across subdomains.  One projection + one hash aggregate on
    the registrable key (far fewer distinct values than hosts; skew on
    big owners is the same salting story as hosts, pipeline/metrics.py)."""
    parts = pages.select(public_suffix_parts(F.col(url_col)).alias("p"))
    return (
        parts.select("p.host", "p.suffix", "p.registrable")
        .groupBy("registrable", "suffix")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("host").alias("n_hosts"),
        )
    )


# --- URL shape features ------------------------------------------------------------


def url_features(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """(url, host_labels, path_depth, n_query_params, digit_permille,
    url_len, has_tracking): the classic URL-shape feature vector crawl
    prioritizers and spam filters feed a classifier (long auto-generated
    paths, numeric-soup hosts, and tracking-laden URLs all score as
    spam signals).

    All integers — digit_permille is the repo's fixed-point convention
    (1000 * digits / length over host+path, 0 for empty) — so the whole
    row is engine-exact.  Pure Catalyst projection: regexp to strip, a
    split/filter HOF to count, no explode, no shuffle."""
    url = F.col(url_col)
    host = F.coalesce(F.try_parse_url(url, F.lit("HOST")), F.lit(""))
    path = F.coalesce(F.try_parse_url(url, F.lit("PATH")), F.lit(""))
    query = F.coalesce(F.try_parse_url(url, F.lit("QUERY")), F.lit(""))
    hp = F.concat(host, path)
    digits = F.length(F.regexp_replace(hp, r"[^0-9]", ""))
    n_params = F.size(
        F.filter(F.split(query, "&"), lambda p: p != F.lit(""))
    )
    return pages.select(
        url.alias("url"),
        F.size(F.filter(F.split(host, r"\."), lambda s: s != F.lit("")))
        .cast("long")
        .alias("host_labels"),
        F.size(F.filter(F.split(path, "/"), lambda s: s != F.lit("")))
        .cast("long")
        .alias("path_depth"),
        n_params.cast("long").alias("n_query_params"),
        # floor((1000*digits)/len): exact for integer operands < 2^53
        # (the quotient-is-integer case divides exactly in IEEE double,
        # so floor never misrounds); the oracle uses the same floor()
        F.when(
            F.length(hp) > 0,
            F.floor(F.lit(1000) * digits / F.length(hp)),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("digit_permille"),
        F.length(url).cast("long").alias("url_len"),
        query.rlike("(^|&)(utm_[^=]*|fbclid|gclid|ref)=").alias(
            "has_tracking"
        ),
    )
