"""Registry: crawl web-ops — WARC/HTTP/WET/WAT, CDX, robots + politeness,
sitemaps/feeds, frontier scheduling, link graph + PageRank, HTML meta/
JSON-LD/tables, MIME sniff, crawl deltas, URL canonicalization."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from open_ocr_spark.dataops.words import collapse_sql, split_spaces_sql
from open_ocr_spark.queries._shared import (
    _WRAP_PREFIX, _WRAP_SUFFIX, _t, pages_from_documents, simhash_ctes,
    twin_payloads,
)

ORACLES: dict[str, str] = {}


def q_html_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-metadata extraction (dataops/htmlmeta.py) through the driver
    gate: four synthetic page shapes cycle the real-world variation —
    name-before-content vs content-before-name meta ordering, a missing
    description (NULL path), uppercase TITLE tags, single-quoted
    attributes — and the oracle runs the SAME regexes in DuckDB (both
    engines' regex dialects share the used subset), with ''-vs-NULL
    normalized identically on both sides."""
    from open_ocr_spark.dataops.htmlmeta import extract_html_meta

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id").cast("string")
    v = F.col("doc_id") % 4
    desc = F.concat(F.lit("desc "), ((F.col("doc_id") * 7) % 100).cast("string"))
    canon = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 20).cast("string"),
        F.lit(".example.com/p/"), i,
    )
    html = F.concat(
        F.when(v == 3, F.concat(F.lit("<TITLE>Doc "), i, F.lit(" </TITLE>")))
        .otherwise(F.concat(F.lit("<title>Doc "), i, F.lit("</title>"))),
        F.when(v == 0, F.concat(
            F.lit('<meta name="description" content="'), desc, F.lit('">')))
        .when(v == 1, F.concat(
            F.lit('<meta content="'), desc,
            F.lit('" name="description">')))
        .when(v == 3, F.concat(
            F.lit("<meta name='description' content='"), desc, F.lit("'>")))
        .otherwise(F.lit("")),
        F.when(v == 3, F.concat(
            F.lit("<link rel='canonical' href='"), canon, F.lit("'>")))
        .otherwise(F.concat(
            F.lit('<link rel="canonical" href="'), canon, F.lit('">'))),
        F.when(v != 3, F.concat(
            F.lit('<meta property="og:title" content="OG '), i,
            F.lit('">'))).otherwise(F.lit("")),
        F.lit("<body>x</body>"),
    )
    pages = docs.select(
        F.concat(F.lit("https://p/"), i).alias("url"), html.alias("html")
    )
    return (
        extract_html_meta(pages)
        .withColumn(
            "doc_id",
            F.regexp_extract("url", r"https://p/(\d+)", 1).cast("long"),
        )
        .select("doc_id", "title", "meta_description", "canonical_url",
                "og_title")
        .orderBy("doc_id")
    )


def q_crawl_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synthetic crawl snapshots over the documents table — old
    omits doc_id%5==4 (those become 'added'), new omits doc_id%5==3
    ('removed'), and doc_id%7==0 pages change content between crawls —
    classified by crawl_delta's full outer join on url + md5 digest
    equality.  The oracle re-derives the status in closed form from the
    same residues, so join laterality (added vs removed swapped) or a
    digest-comparison bug flips rows and breaks the hash."""
    from open_ocr_spark.dataops.delta import crawl_delta

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(F.lit("https://h"), (F.col("doc_id") % 20).cast("string"),
                   F.lit(".example.com/p/"), F.col("doc_id").cast("string"))
    old = docs.filter(F.col("doc_id") % 5 != 4).select(
        url.alias("url"),
        F.md5(F.concat(F.lit("v1-"), F.col("doc_id").cast("string")))
        .alias("content_md5"),
    )
    new = docs.filter(F.col("doc_id") % 5 != 3).select(
        url.alias("url"),
        F.md5(
            F.concat(
                F.when(F.col("doc_id") % 7 == 0, F.lit("v2-"))
                .otherwise(F.lit("v1-")),
                F.col("doc_id").cast("string"),
            )
        ).alias("content_md5"),
    )
    return crawl_delta(old, new).orderBy("url")


def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 robots gating (dataops/robots.py) end to end: every host
    publishes a robots.txt whose '*' group disallows /p/{h} but allows
    the longer /p/{h}/pub, wildcard-disallows /tmp/*, and end-anchors
    /exact$ — behind a googlebot group (Disallow: /) that must NOT leak
    into the '*' evaluation, plus a comment line.  Six URL shapes per
    host cycle the verdicts: prefix disallow, longest-match allow
    override, '*' wildcard, '$' anchor hit, '$' anchor miss (/exactly),
    and no-rule default-allow.  The oracle states the six verdicts in
    closed form — a group-attribution, precedence (longest/Allow-tie),
    wildcard or anchor bug flips rows and breaks the hash."""
    from open_ocr_spark.dataops.robots import gate_urls, parse_robots

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    h = (F.col("doc_id") % 20).cast("string")
    robots = docs.select(h.alias("hid")).distinct().select(
        F.concat(F.lit("h"), F.col("hid"), F.lit(".example.com")).alias(
            "host"
        ),
        F.concat(
            F.lit(
                "# corpus robots\nUser-agent: googlebot\nDisallow: /\n\n"
                "User-agent: *\nDisallow: /p/"
            ),
            F.col("hid"),
            F.lit("\nAllow: /p/"),
            F.col("hid"),
            F.lit("/pub\nDisallow: /tmp/*\nDisallow: /exact$\n"),
        ).alias("robots_txt"),
    )
    v = F.col("doc_id") % 6
    path = (
        F.when(v == 0, F.concat(F.lit("/p/"), h))
        .when(v == 1, F.concat(F.lit("/p/"), h, F.lit("/pub/x")))
        .when(v == 2, F.lit("/tmp/cache/1"))
        .when(v == 3, F.lit("/exact"))
        .when(v == 4, F.lit("/exactly"))
        .otherwise(F.lit("/other"))
    )
    urls = docs.select(
        F.concat(
            F.lit("https://h"), h, F.lit(".example.com"), path,
            F.lit("?q="), F.col("doc_id").cast("string"),
        ).alias("url")
    )
    return gate_urls(urls, parse_robots(robots, agent="*")).orderBy("url")


def q_sitemap_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap URL discovery (dataops/sitemaps.py): even hosts publish a
    <urlset> (one entry with an &amp;-escaped query and a lastmod, one
    without lastmod, one loc-less entry that must be dropped), odd hosts
    publish a <sitemapindex> with two child pointers (lastmod on the
    first only).  The oracle states every discovered row in closed form
    — kind routing, entity decoding, lastmod pairing and the loc-less
    drop are all value-hashed."""
    from open_ocr_spark.dataops.sitemaps import parse_sitemaps

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    hid = F.col("hid")
    hosts = docs.select((F.col("doc_id") % 20).alias("hid")).distinct()
    base = F.concat(F.lit("https://h"), hid.cast("string"),
                    F.lit(".example.com"))
    lastmod = F.concat(F.lit("2026-0"), ((hid % 8) + 1).cast("string"),
                       F.lit("-15"))
    urlset = F.concat(
        F.lit('<?xml version="1.0"?><urlset xmlns="x">'
              "<url><loc> "), base,
        F.lit("/p/a?x=1&amp;y=2 </loc><lastmod>"), lastmod,
        F.lit("</lastmod></url><url><loc>"), base,
        F.lit("/p/b</loc></url><url><lastmod>2020-01-01</lastmod></url>"
              "</urlset>"),
    )
    index = F.concat(
        F.lit('<?xml version="1.0"?><sitemapindex xmlns="x">'
              "<sitemap><loc>"), base,
        F.lit("/sitemap-0.xml</loc><lastmod>"), lastmod,
        F.lit("</lastmod></sitemap><sitemap><loc>"), base,
        F.lit("/sitemap-1.xml</loc></sitemap></sitemapindex>"),
    )
    sm = hosts.select(
        F.concat(F.lit("h"), hid.cast("string"), F.lit(".example.com"))
        .alias("host"),
        F.when(hid % 2 == 0, urlset).otherwise(index).alias("xml"),
    )
    return parse_sitemaps(sm).orderBy("host", "loc")


def q_feed_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS/Atom discovery (dataops/feeds.py): even hosts publish RSS
    (one item with an &amp;-escaped title + pubDate, one CDATA title
    without a date, one link-less drop), odd hosts Atom (a rel=self
    decoy that must lose to rel=alternate, plus a rel-less default).
    Closed-form oracle over the same residues — kind routing, the Atom
    rel preference, CDATA unwrap and entity decode are all
    value-hashed."""
    from open_ocr_spark.dataops.feeds import parse_feeds

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    hid = F.col("hid")
    hosts = docs.select((F.col("doc_id") % 20).alias("hid")).distinct()
    base = F.concat(F.lit("https://h"), hid.cast("string"),
                    F.lit(".example.com"))
    rss = F.concat(
        F.lit('<rss version="2.0"><channel><item><title>News '),
        hid.cast("string"),
        F.lit(" &amp; views</title><link> "), base,
        F.lit("/p/a </link><pubDate>Mon, 17 Aug 2026 0"),
        (hid % 10).cast("string"),
        F.lit(":00:00 GMT</pubDate></item><item>"
              "<title><![CDATA[Deep <dive>]]></title><link>"), base,
        F.lit("/p/b</link></item><item><title>dropped</title></item>"
              "</channel></rss>"),
    )
    atom = F.concat(
        F.lit("<feed xmlns=\"x\"><entry><title>Entry "),
        hid.cast("string"),
        F.lit('</title><link rel="self" href="'), base,
        F.lit('/meta"/><link rel="alternate" href="'), base,
        F.lit('/e/1"/><updated>2026-08-17T10:00:00Z</updated></entry>'
              '<entry><title>Plain</title><link href="'), base,
        F.lit('/e/2"/></entry></feed>'),
    )
    feeds = hosts.select(
        F.concat(base, F.lit("/feed")).alias("feed_url"),
        F.when(hid % 2 == 0, rss).otherwise(atom).alias("xml"),
    )
    return parse_feeds(feeds).orderBy("feed_url", "link")


def _messy_urls(docs: DataFrame) -> DataFrame:
    """Four crawl spellings of each logical page https://src{K}.example.com
    /page/{L}: explicit default :443 + tracking params + fragment;
    uppercase host + trailing slash; unsorted params + utm/ref noise —
    those three must collapse to ONE group — plus a NON-default :8080
    origin that must stay its own group (a different origin, not a
    spelling)."""
    lid = F.expr("doc_id DIV 4").cast("string")
    src = F.expr("(doc_id DIV 4) % 20").cast("string")
    variant = F.col("doc_id") % 4
    url = (
        F.when(
            variant == 0,
            F.concat(
                F.lit("https://www.src"), src, F.lit(".example.com:443/page/"),
                lid, F.lit("?utm_source=feed&b=2&a=1#frag"),
            ),
        )
        .when(
            variant == 1,
            F.concat(
                F.lit("HTTPS://SRC"), src, F.lit(".EXAMPLE.COM/page/"),
                lid, F.lit("/?a=1&b=2"),
            ),
        )
        .when(
            variant == 2,
            F.concat(
                F.lit("https://src"), src, F.lit(".example.com/page/"),
                lid, F.lit("?b=2&utm_campaign=x&a=1&ref=rss"),
            )
        )
        .otherwise(
            F.concat(
                F.lit("https://src"), src, F.lit(".example.com:8080/page/"),
                lid, F.lit("?a=1&b=2"),
            )
        )
    )
    return docs.select("doc_id", url.alias("url"))


def q_canonical_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + canonical-url dedup: three crawl spellings of
    every logical page must collapse to one canonical group, while a
    fourth spelling on a NON-default port stays its own group.  Exercises
    scheme/host case folding, default-port-only stripping (https:443
    dropped, :8080 kept), www. stripping, trailing-slash normalisation,
    tracking-param removal, and bytewise param sorting — the oracle
    re-derives the canonical form with regexes + list_filter/list_sort,
    no parse_url."""
    from open_ocr_spark.dataops.urls import dedup_by_canonical_url

    docs = _t(spark, sf_dir, "documents")
    return dedup_by_canonical_url(_messy_urls(docs)).orderBy("canonical_url")


def _link_pages(docs: DataFrame) -> DataFrame:
    """Synthetic pages with a deterministic outlink structure: page for
    doc D lives on host h{D%20}, links twice to h{(7D+1)%20} (once
    double-quoted, once bare) and once single-quoted to h{(3D+2)%20},
    plus an ``<area href>`` imagemap region to h{(11D+5)%20} and a
    relative link that extraction must skip."""
    def host(expr):
        return F.concat(
            F.lit("https://h"), expr.cast("string"), F.lit(".example.com")
        )

    a1 = host((F.col("doc_id") * 7 + 1) % 20)
    a2 = host((F.col("doc_id") * 3 + 2) % 20)
    a3 = host((F.col("doc_id") * 11 + 5) % 20)
    url = F.concat(
        host(F.col("doc_id") % 20), F.lit("/p/"), F.col("doc_id").cast("string")
    )
    html = F.concat(
        F.lit('<html><body><p>intro</p><a href="'), a1,
        F.lit("/x\">one</a> <a href='"), a2,
        F.lit("/y'>two</a><a href=/rel>skip</a><a href="), a1,
        F.lit('/bare>three</a><map name=m><area shape=rect href="'), a3,
        F.lit('/map"></map></body></html>'),
    )
    return docs.select(url.alias("url"), html.alias("html"))


def q_host_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction + host-level link graph, pure Catalyst: three
    regexp passes (double-quoted / single-quoted / bare hrefs), absolute
    http(s) filter, host fold, multiplicity counts.  The oracle re-derives
    the hrefs with DuckDB's regexp_extract_all and the hosts with a regex
    (no parse_url there), so quoting classes, the relative-link skip, and
    the double-link multiplicity are all value-hashed."""
    from open_ocr_spark.dataops.links import extract_links, host_edges

    docs = _t(spark, sf_dir, "documents")
    return host_edges(extract_links(_link_pages(docs))).orderBy(
        "src_host", "dst_host"
    )


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full web-graph pipeline: build pages -> extract links -> host
    graph -> 5 rounds of deterministic integer-domain PageRank.  Integer
    arithmetic makes the ranks EXACT (order-independent sums), so the
    oracle value-hashes them from 5 unrolled SQL iterations instead of
    epsilon-comparing floats — any drift in degree counts, dangling-node
    handling, or the update formula fails the hash."""
    from open_ocr_spark.dataops.links import extract_links, host_edges
    from open_ocr_spark.dataops.pagerank import pagerank_int

    docs = _t(spark, sf_dir, "documents")
    edges = host_edges(extract_links(_link_pages(docs))).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    return (
        pagerank_int(edges, iterations=5)
        .select(F.col("node").alias("host"), "rank")
        .orderBy("host")
    )


def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC container roundtrip (Common-Crawl-native ingest, A1/A3 over
    the crawl's own format): pack documents 10-per-file into spec-shaped
    WARC response records built entirely in Catalyst (version line, CRLF
    headers, Content-Length in BYTES, record separators), then explode
    the files back into records with the stdlib parser.  The oracle is
    the identity on documents — any header, length, or separator bug in
    the parser (or the builder) breaks the byte-equality of text and the
    record count per file."""
    from open_ocr_spark.sources import records_from_warc

    docs = _t(spark, sf_dir, "documents")
    text = F.coalesce(F.col("text"), F.lit(""))
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "
              "https://crawl.example.com/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n"
              "Content-Type: text/plain\r\nContent-Length: "),
        F.octet_length(text).cast("string"),
        F.lit("\r\n\r\n"),
        text,
    )
    files = (
        docs.select(
            F.expr("doc_id DIV 10").alias("file_id"),
            F.struct(F.col("doc_id"), rec.alias("rec")).alias("s"),
        )
        .groupBy("file_id")
        .agg(
            F.encode(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("s")), lambda s: s["rec"]
                    ),
                    "\r\n\r\n",
                ),
                "utf-8",
            ).alias("warc")
        )
    )
    return records_from_warc(files, "warc").select(
        "file_id",
        "rec_index",
        "warc_type",
        "target_uri",
        F.octet_length("payload").alias("n_bytes"),
        F.decode("payload", "utf-8").alias("text"),
    ).orderBy("file_id", "rec_index")


def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-archive CDX index (r4, dataops/urls.py): SURT keys over the
    capture table + content digests, range-ordered so prefix lookups
    are contiguous. The oracle rebuilds the SURT transform and the md5
    digest of the exact wrapped html bytes in SQL."""
    from open_ocr_spark.dataops.urls import cdx_index

    pages = pages_from_documents(spark, sf_dir)
    return cdx_index(pages)


def q_warc_http(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Common-Crawl ingest chain (r4): WARC container →
    records_from_warc → http_responses. Each document becomes a real
    gzip-member WARC holding one `response` record whose payload is a
    raw HTTP message; five variants cycle the capture-reality layers —
    plain Content-Length, chunked, gzip Content-Encoding, chunked gzip
    (coding inside transfer-coding, as real stacks send it), and a
    truncated chunked body that must surface as an error VALUE."""
    def build(i: int, text) -> bytes:
        from open_ocr_spark.sources import build_http_response, build_warc

        body = (text or "").encode("utf-8")
        v = i % 5
        if v == 4:
            # pad so the 8-byte cut always lands in the LAST
            # CHUNK'S data (an empty body's chunked payload is
            # just the 5-byte terminator and the cut would eat
            # the header block -> a different error message);
            # body content is irrelevant here, the oracle
            # expects a NULL body for the error row
            body += b" " * 16
        raw = build_http_response(
            body,
            status=200 + (i % 2) * 204,
            chunked=v in (1, 3, 4),
            gzipped=v in (2, 3),
        )
        if v == 4:
            raw = raw[:-8]  # cut into the last chunk's data
        return build_warc(
            [(f"https://h{i % 20}.example.com/{i}", raw)],
            gzip_members=True,
        )

    from open_ocr_spark.sources import http_responses, records_from_warc

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    files = twin_payloads(docs, build).withColumnRenamed("payload", "warc")
    recs = records_from_warc(files).select("doc_id", "payload")
    return (
        http_responses(recs)
        .select(
            "doc_id",
            "http_status",
            "http_content_type",
            F.decode("body", "utf-8").alias("body_text"),
            "http_error",
        )
        .orderBy("doc_id")
    )


def q_robots_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness metadata (r4, robots.py sibling of robots_gate): each
    host's robots.txt carries a googlebot Crawl-delay that must NOT
    leak into the '*' group, a fractional '*' delay (exact integer
    millis), a malformed delay line that must be ignored, and two
    global Sitemap lines whose file order must survive. One row per
    (host, sitemap) with the host's delay."""
    from open_ocr_spark.dataops.robots import parse_robots_meta

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    hid = (F.col("doc_id") % 20).cast("string")
    robots = docs.select(hid.alias("hid")).distinct().select(
        "hid",
        F.concat(F.lit("h"), F.col("hid"), F.lit(".example.com")).alias(
            "host"
        ),
        F.concat(
            F.lit(
                "User-agent: googlebot\nCrawl-delay: 99\nDisallow: /\n\n"
                "User-agent: *\nDisallow: /x\nCrawl-delay: "
            ),
            F.col("hid"),
            F.lit(
                ".5\nCrawl-delay: oops\n"
                "Sitemap: https://h"
            ),
            F.col("hid"),
            F.lit(".example.com/sitemap.xml\nSitemap: https://h"),
            F.col("hid"),
            F.lit(".example.com/news.xml # freshest\n"),
        ).alias("robots_txt"),
    )
    meta = parse_robots_meta(robots, agent="*")
    return meta.select(
        "host",
        "crawl_delay_ms",
        F.posexplode("sitemaps").alias("sm_index", "sitemap"),
    ).orderBy("host", "sm_index")


def q_json_ld(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema.org JSON-LD harvest (r4, dataops/htmlmeta.py): pages carry
    two valid typed ld+json blocks (built with to_json so names are
    properly JSON-escaped), one valid @graph container with NO top-level
    @type (kept with NULL ld_type — ADVICE r4), one malformed block, and
    one non-ld script; the extractor must find exactly the valid blocks,
    unescape the names byte-exactly, and drop only the malformed and
    non-ld ones — pure Catalyst, no Python."""
    from open_ocr_spark.dataops.htmlmeta import extract_json_ld

    docs = _t(spark, sf_dir, "documents")
    b1 = F.to_json(
        F.struct(
            F.lit("Article").alias("@type"),
            F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 40).alias(
                "name"
            ),
        )
    )
    b2 = F.to_json(
        F.struct(
            F.lit("Product").alias("@type"),
            F.concat(F.lit("Item "), F.col("doc_id")).alias("name"),
        )
    )
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><head><script type="application/ld+json">'),
            b1,
            F.lit("</script><script type='application/ld+json'>"),
            b2,
            F.lit('</script><script type="application/ld+json">'
                  '{"@context":"https://schema.org","@graph":'
                  '[{"@type":"WebSite"}]}'),
            F.lit('</script><script type="application/ld+json">{oops'),
            F.lit('</script><script type="text/javascript">'
                  '{"@type":"Nope","name":"x"}</script>'
                  "</head><body>content</body></html>"),
        ).alias("html"),
    )
    return extract_json_ld(pages).orderBy("doc_id", "ld_type")


def q_html_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured table extraction (kernels/tables.py) through the real
    HTML parse: each document becomes a page with nav/footer
    boilerplate and one 2x3 table — an entity-bearing header row plus a
    data row whose cells are formulas of doc_id.  The kernel must parse
    the real markup, keep document order, decode entities, and
    collapse whitespace; the oracle regenerates every expected cell in
    SQL.  Nesting/malformed-row behavior is pinned in
    tests/test_tables.py."""
    def build(i: int) -> bytes:
        html = (
            "<html><body><nav><a href='/'>home</a></nav>"
            "<table><tr><th>name &amp; id</th><th>qty</th>"
            "<th>price</th></tr>"
            f"<tr><td> item-{i} </td><td>{i % 7}</td>"
            f"<td>{(i * 3) % 100}</td></tr></table>"
            "<footer>(c) corp</footer></body></html>"
        )
        return html.encode()

    from open_ocr_spark.kernels.tables import html_tables

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    pages = twin_payloads(docs, build).withColumnRenamed("payload", "html")
    return html_tables(pages).orderBy("doc_id", "table_idx", "row_idx",
                                      "col_idx")


def q_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier scheduling end to end (dataops/frontier.py): each
    document discovers three links — a page URL in two raw spellings
    (www + :443 + trailing slash + tracking params + fragment vs the
    clean form; a canonicalization bug splits the referrer counts), its
    host's homepage (higher in-degree tier), and a /private/ URL the
    per-host robots.txt disallows.  Seen history (messy raw forms, 1 in
    5 pages) is anti-joined after canonicalization; the per-host quota
    of 4 genuinely binds on half the hosts.  The oracle rebuilds the
    canonical candidates in closed form and replays the count / anti /
    gate / rank pipeline relationally, so it holds at any doc_id
    density."""
    from open_ocr_spark.dataops.frontier import frontier_schedule
    from open_ocr_spark.dataops.robots import parse_robots

    i = F.col("doc_id")
    h = (i % 10).cast("string")
    p = (i % 25).cast("string")
    raw_page = F.when(
        i % 2 == 0,
        F.concat(
            F.lit("https://www.h"), h, F.lit(".example.com:443/page/"), p,
            F.lit("/?utm_source=feed&b=2&a=1#frag"),
        ),
    ).otherwise(
        F.concat(
            F.lit("https://h"), h, F.lit(".example.com/page/"), p,
            F.lit("?a=1&b=2"),
        )
    )
    home = F.concat(F.lit("https://h"), h, F.lit(".example.com/"))
    priv = F.concat(
        F.lit("https://h"), h, F.lit(".example.com/private/"),
        i.cast("string"),
    )
    src = F.concat(F.lit("https://s"), i.cast("string"), F.lit(".example.com/"))

    docs = _t(spark, sf_dir, "documents")
    candidates = docs.select(
        src.alias("src_url"),
        F.explode(F.array(raw_page, home, priv)).alias("dst_url"),
    )
    robots = (
        docs.select(
            F.concat(F.lit("h"), h, F.lit(".example.com")).alias("host")
        )
        .distinct()
        .select(
            "host",
            F.lit("User-agent: *\nDisallow: /private/\n").alias("robots_txt"),
        )
    )
    seen = (
        docs.filter(i % 25 < 5)
        .select(
            F.concat(
                F.lit("https://h"), h, F.lit(".example.com/page/"), p,
                F.lit("?b=2&a=1&utm_medium=social"),
            ).alias("url")
        )
        .distinct()
    )
    return frontier_schedule(
        candidates, parse_robots(robots), seen, per_host_quota=4
    ).orderBy("host", "fetch_order")


def q_frontier_polite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """frontier_schedule x robots politeness, composed (r5, VERDICT r4
    item 7 — dataops/frontier.py frontier_polite): the same candidate /
    robots / seen fixture as frontier_schedule, but every host's
    robots.txt now declares a '*'-group Crawl-delay of (hid).5 seconds
    behind a googlebot distractor group (99 s — leaking it across groups
    flips nearly every row).  With a 10-second round budget the delay
    budget OVERRIDES the quota of 4 on hosts 3..9 (h3/h4 fit 2 fetches,
    h5..h9 fit 1) and leaves it binding on h0..h2; each kept fetch gets
    its polite start offset.  The oracle replays BOTH stages — the full
    count / anti-join / gate / rank frontier pipeline, then the delay
    join, budget filter and offset arithmetic — in closed form."""
    from open_ocr_spark.dataops.frontier import frontier_polite
    from open_ocr_spark.dataops.robots import parse_robots, parse_robots_meta

    i = F.col("doc_id")
    h = (i % 10).cast("string")
    p = (i % 25).cast("string")
    raw_page = F.when(
        i % 2 == 0,
        F.concat(
            F.lit("https://www.h"), h, F.lit(".example.com:443/page/"), p,
            F.lit("/?utm_source=feed&b=2&a=1#frag"),
        ),
    ).otherwise(
        F.concat(
            F.lit("https://h"), h, F.lit(".example.com/page/"), p,
            F.lit("?a=1&b=2"),
        )
    )
    home = F.concat(F.lit("https://h"), h, F.lit(".example.com/"))
    priv = F.concat(
        F.lit("https://h"), h, F.lit(".example.com/private/"),
        i.cast("string"),
    )
    src = F.concat(F.lit("https://s"), i.cast("string"), F.lit(".example.com/"))

    docs = _t(spark, sf_dir, "documents")
    candidates = docs.select(
        src.alias("src_url"),
        F.explode(F.array(raw_page, home, priv)).alias("dst_url"),
    )
    robots = (
        docs.select(
            F.concat(F.lit("h"), h, F.lit(".example.com")).alias("host"),
            h.alias("hid"),
        )
        .distinct()
        .select(
            "host",
            F.concat(
                F.lit(
                    "User-agent: googlebot\nCrawl-delay: 99\nDisallow: /\n\n"
                    "User-agent: *\nDisallow: /private/\nCrawl-delay: "
                ),
                F.col("hid"),
                F.lit(".5\n"),
            ).alias("robots_txt"),
        )
    )
    seen = (
        docs.filter(i % 25 < 5)
        .select(
            F.concat(
                F.lit("https://h"), h, F.lit(".example.com/page/"), p,
                F.lit("?b=2&a=1&utm_medium=social"),
            ).alias("url")
        )
        .distinct()
    )
    return frontier_polite(
        candidates,
        parse_robots(robots),
        parse_robots_meta(robots, agent="*"),
        seen,
        per_host_quota=4,
        round_ms=10_000,
    ).orderBy("host", "fetch_order")


def q_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET export (r5, VERDICT r4 item 6 — dataops/wet.py): the
    extraction output packed into Common-Crawl-style WET segment files
    (warcinfo lead record + one text/plain `conversion` record per
    document, md5-url bucketed into 8 files, pure Catalyst), then
    exploded BACK through the engine's own WARC parser.  The oracle
    rebuilds every record in closed form — file assignment via the
    shared md5-bucket expression, in-file rec_index from the uri sort,
    the warcinfo body verbatim — so a header, bucketing, ordering or
    Content-Length byte bug breaks the hash."""
    from open_ocr_spark.dataops.wet import wet_files
    from open_ocr_spark.sources import records_from_warc

    docs = _t(spark, sf_dir, "documents")
    extracted = docs.select(
        F.concat(
            F.lit("https://crawl.example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.coalesce(F.col("text"), F.lit("")).alias("extracted_text"),
    )
    files = wet_files(extracted, num_buckets=8)
    return (
        records_from_warc(files, "wet")
        .select(
            "file_id",
            "rec_index",
            "warc_type",
            "target_uri",
            "content_type",
            F.decode("payload", "utf-8").alias("text"),
        )
        .orderBy("file_id", "rec_index")
    )


def q_wat_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT export (r5, VERDICT r4 item 6 — dataops/wet.py): pages with
    three link shapes (no outlinks / one double-quoted / two mixed-quote
    links) become WAT `metadata` records whose JSON envelope composes the
    engine's OWN HTML readers (htmlmeta title, links outlinks), packed
    into WARC segment files and exploded back through the WARC parser;
    the JSON is then re-parsed with from_json.  The oracle states title,
    link count and first sorted link in closed form, so the envelope
    build, the container roundtrip and the JSON schema all sit on the
    value path."""
    from open_ocr_spark.dataops.wet import wat_files
    from open_ocr_spark.sources import records_from_warc

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id").cast("string")
    v = F.col("doc_id") % 3
    link1 = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 20).cast("string"),
        F.lit(".example.com/p/"), i,
    )
    link2 = F.concat(F.lit("https://ref.example.org/"), i)
    html = F.concat(
        F.lit("<title>Doc "), i, F.lit("</title>"),
        F.when(
            v >= 1, F.concat(F.lit('<a href="'), link1, F.lit('">x</a>'))
        ).otherwise(F.lit("")),
        F.when(
            v == 2, F.concat(F.lit("<a href='"), link2, F.lit("'>y</a>"))
        ).otherwise(F.lit("")),
        F.lit("<body>b</body>"),
    )
    pages = docs.select(
        F.concat(F.lit("https://p.example.com/"), i).alias("url"),
        html.alias("html"),
    )
    env_schema = (
        "struct<Envelope:struct<"
        "`WARC-Header-Metadata`:struct<`WARC-Target-URI`:string>,"
        "`Payload-Metadata`:struct<`HTML-Metadata`:struct<"
        "Head:struct<Title:string>,Links:array<struct<url:string>>>>>>"
    )
    recs = records_from_warc(wat_files(pages, num_buckets=8), "wat").filter(
        F.col("warc_type") == "metadata"
    )
    parsed = F.from_json(F.decode("payload", "utf-8"), env_schema)
    hm = parsed["Envelope"]["Payload-Metadata"]["HTML-Metadata"]
    return recs.select(
        "target_uri",
        hm["Head"]["Title"].alias("title"),
        F.size(hm["Links"]).cast("long").alias("n_links"),
        F.try_element_at(hm["Links"], F.lit(1))["url"].alias("first_link"),
    ).orderBy("target_uri")


def q_mime_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte content-type sniffing (dataops/mime.py) over 16 payload
    shapes cycled by doc_id — every container family the kernels route
    (pdf/rtf/zip/png/gif/jpeg/bmp/webm/warc/wav/avi/mp4/gzip), the HTML
    tag-marker case, a NUL-free text fallback, and a NUL-bearing
    octet-stream — each payload built JVM-side as unhex(prefix ||
    hex(text)) so real document bytes ride behind the magic.  The oracle
    states the 16 verdicts in closed form; a prefix-table, offset-magic
    (RIFF fourcc at byte 9, ftyp at byte 5), or text-tail bug flips rows
    and breaks the hash."""
    from open_ocr_spark.dataops.mime import sniff_mime_col

    i = F.col("doc_id")
    filler = F.hex(F.encode(F.coalesce(F.col("text"), F.lit("x")), "utf-8"))

    def mk(prefix_hex: str):
        return F.unhex(F.concat(F.lit(prefix_hex), filler))

    payload = (
        F.when(i % 16 == 0, mk("255044462D312E34"))  # %PDF-1.4
        .when(i % 16 == 1, mk("7B5C72746631"))  # {\rtf1
        .when(i % 16 == 2, mk("504B0304"))
        .when(i % 16 == 3, mk("89504E470D0A1A0A"))
        .when(i % 16 == 4, mk("474946383961"))
        .when(i % 16 == 5, mk("FFD8FFE0"))
        .when(i % 16 == 6, mk("424D"))
        .when(i % 16 == 7, mk("1A45DFA3"))
        .when(i % 16 == 8, mk("574152432F312E30"))  # WARC/1.0
        .when(i % 16 == 9, mk("524946461000000057415645"))  # RIFF..WAVE
        .when(i % 16 == 10, mk("524946461000000041564920"))  # RIFF..AVI
        .when(i % 16 == 11, mk("000000186674797069736F6D"))  # ....ftypisom
        .when(i % 16 == 12, mk("1F8B0800"))
        .when(
            i % 16 == 13,
            F.encode(
                F.concat(
                    F.lit("<!DOCTYPE html><p>"),
                    F.coalesce(F.col("text"), F.lit("")),
                ),
                "utf-8",
            ),
        )
        .when(
            i % 16 == 14,
            F.encode(
                F.concat(
                    F.lit("plain text "), F.coalesce(F.col("text"), F.lit(""))
                ),
                "utf-8",
            ),
        )
        .otherwise(mk("00FF00AA"))  # NUL prefix: octet-stream
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        docs.select("doc_id", sniff_mime_col(payload))
        .orderBy("doc_id")
    )


def q_anchor_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation (the web's free target-page labels): pages
    carry four anchor shapes — mode competition between 'click here' /
    'read more' / 'site N' texts on the t-hosts, a messy-whitespace
    unicode text on the u-hosts, a nested-markup anchor (empty capture,
    dropped), and a relative href (dropped).  One (dst,text) hash agg +
    one window exchange; the oracle replays the regex pairing with
    DuckDB's lockstep unnest and the mode tie-break with row_number —
    a capture-alignment, collapse, count, or tie-break bug breaks the
    hash."""
    from open_ocr_spark.dataops.links import anchor_text_stats, extract_anchors

    i = F.col("doc_id")
    t_dst = F.concat(
        F.lit("https://t"), (i % 10).cast("string"), F.lit(".example.com/")
    )
    u_dst = F.concat(
        F.lit("https://u"), (i % 7).cast("string"), F.lit(".example.com/x")
    )
    html = F.concat(
        F.lit('<html><body><a href="'),
        t_dst,
        F.lit('">'),
        F.when(i % 3 == 1, F.lit("read more")).otherwise(F.lit("click here")),
        F.lit('</a> <A HREF="'),
        t_dst,
        F.lit('">  site   '),
        (i % 2).cast("string"),
        F.lit("\n page</A><a href=\""),
        u_dst,
        F.lit('" rel=nofollow>Example — Site '),
        (i % 13).cast("string"),
        F.lit('</a><a href="'),
        t_dst,
        F.lit('"><b>skip</b></a><a href="/rel">skip too</a>'),
        F.lit("</body></html>"),
    )
    pages = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://h"), (i % 20).cast("string"),
            F.lit(".example.com/p/"), i.cast("string"),
        ).alias("url"),
        html.alias("html"),
    )
    return anchor_text_stats(extract_anchors(pages)).orderBy("dst_url")


def _cdx_oracle() -> str:
    pre = _WRAP_PREFIX.replace("'", "''")
    suf = _WRAP_SUFFIX.replace("'", "''")
    return f"""
        SELECT 'com,example,docs)/doc/' || doc_id::VARCHAR AS surt,
               TIMESTAMP '2024-01-01 00:00:00' AS warc_ts,
               'https://docs.example.com/doc/' || doc_id::VARCHAR AS url,
               md5('{pre}' || coalesce(text, '') || '{suf}') AS digest
        FROM documents
        ORDER BY surt
    """


ORACLES["json_ld"] = """
        SELECT doc_id, 'Article' AS ld_type,
               substring(coalesce(text, ''), 1, 40) AS name
        FROM documents
        UNION ALL
        SELECT doc_id, 'Product', 'Item ' || doc_id::VARCHAR
        FROM documents
        UNION ALL
        SELECT doc_id, NULL, NULL  -- the @graph container block
        FROM documents
        ORDER BY doc_id, ld_type
    """


ORACLES["html_tables"] = """
        SELECT doc_id,
               CAST(0 AS BIGINT) AS table_idx,
               g.r::BIGINT AS row_idx,
               g.c::BIGINT AS col_idx,
               CASE WHEN g.r = 0 THEN
                   CASE g.c WHEN 0 THEN 'name & id'
                            WHEN 1 THEN 'qty'
                            ELSE 'price' END
               ELSE
                   CASE g.c WHEN 0 THEN 'item-' || doc_id::VARCHAR
                            WHEN 1 THEN (doc_id % 7)::VARCHAR
                            ELSE ((doc_id * 3) % 100)::VARCHAR END
               END AS cell
        FROM documents,
             (VALUES (0,0),(0,1),(0,2),(1,0),(1,1),(1,2)) AS g(r, c)
        ORDER BY doc_id, table_idx, row_idx, col_idx
    """


ORACLES["frontier_schedule"] = """
        WITH cand AS (
            SELECT 'https://s' || doc_id::VARCHAR || '.example.com/' AS src_url,
                   'https://h' || (doc_id % 10)::VARCHAR
                       || '.example.com/page/' || (doc_id % 25)::VARCHAR
                       || '?a=1&b=2' AS url
            FROM documents
            UNION ALL
            SELECT 'https://s' || doc_id::VARCHAR || '.example.com/',
                   'https://h' || (doc_id % 10)::VARCHAR || '.example.com'
            FROM documents
            -- /private/ candidates omitted: robots-disallowed, the
            -- engine must drop every one of them
        ),
        agg AS (
            SELECT url, count(DISTINCT src_url)::BIGINT AS in_degree
            FROM cand GROUP BY url
        ),
        fresh AS (
            SELECT * FROM agg WHERE url NOT IN (
                SELECT DISTINCT 'https://h' || (doc_id % 10)::VARCHAR
                           || '.example.com/page/' || (doc_id % 25)::VARCHAR
                           || '?a=1&b=2'
                FROM documents WHERE doc_id % 25 < 5
            )
        ),
        ranked AS (
            SELECT url,
                   regexp_extract(url, 'https://([^/?]+)', 1) AS host,
                   in_degree,
                   row_number() OVER (
                       PARTITION BY regexp_extract(url, 'https://([^/?]+)', 1)
                       ORDER BY in_degree DESC, url
                   ) AS fetch_order
            FROM fresh
        )
        SELECT url, host, in_degree, fetch_order
        FROM ranked
        WHERE fetch_order <= 4
        ORDER BY host, fetch_order
    """


ORACLES["frontier_polite"] = """
        WITH cand AS (
            SELECT 'https://s' || doc_id::VARCHAR || '.example.com/' AS src_url,
                   'https://h' || (doc_id % 10)::VARCHAR
                       || '.example.com/page/' || (doc_id % 25)::VARCHAR
                       || '?a=1&b=2' AS url
            FROM documents
            UNION ALL
            SELECT 'https://s' || doc_id::VARCHAR || '.example.com/',
                   'https://h' || (doc_id % 10)::VARCHAR || '.example.com'
            FROM documents
        ),
        agg AS (
            SELECT url, count(DISTINCT src_url)::BIGINT AS in_degree
            FROM cand GROUP BY url
        ),
        fresh AS (
            SELECT * FROM agg WHERE url NOT IN (
                SELECT DISTINCT 'https://h' || (doc_id % 10)::VARCHAR
                           || '.example.com/page/' || (doc_id % 25)::VARCHAR
                           || '?a=1&b=2'
                FROM documents WHERE doc_id % 25 < 5
            )
        ),
        ranked AS (
            SELECT url,
                   regexp_extract(url, 'https://([^/?]+)', 1) AS host,
                   in_degree,
                   row_number() OVER (
                       PARTITION BY regexp_extract(url, 'https://([^/?]+)', 1)
                       ORDER BY in_degree DESC, url
                   ) AS fetch_order
            FROM fresh
        ),
        delays AS (
            SELECT DISTINCT
                   'h' || (doc_id % 10)::VARCHAR || '.example.com' AS host,
                   ((doc_id % 10) * 1000 + 500)::BIGINT AS delay_ms
            FROM documents
        )
        SELECT r.url, r.host, r.in_degree, r.fetch_order, d.delay_ms,
               ((r.fetch_order - 1) * d.delay_ms)::BIGINT AS fetch_at_ms
        FROM ranked r JOIN delays d USING (host)
        WHERE r.fetch_order <= 4
          AND r.fetch_order <= greatest(10000 // d.delay_ms, 1)
        ORDER BY host, fetch_order
    """


ORACLES["wet_roundtrip"] = """
        WITH recs AS (
            SELECT 'https://crawl.example.com/doc/' || doc_id::VARCHAR AS uri,
                   coalesce(text, '') AS text
            FROM documents
        ),
        bucketed AS (
            SELECT (('0x' || substring(md5(uri), 1, 4))::INT % 8)::BIGINT
                       AS file_id,
                   uri, text
            FROM recs
        ),
        conv AS (
            SELECT file_id,
                   row_number() OVER (
                       PARTITION BY file_id ORDER BY uri
                   )::INT AS rec_index,
                   'conversion' AS warc_type,
                   uri AS target_uri,
                   'text/plain' AS content_type,
                   text
            FROM bucketed
        ),
        info AS (
            SELECT DISTINCT file_id,
                   0::INT AS rec_index,
                   'warcinfo' AS warc_type,
                   NULL::VARCHAR AS target_uri,
                   'application/warc-fields' AS content_type,
                   'software: open-ocr-spark WET/WAT writer' || chr(13)
                       || chr(10) || 'format: WARC File Format 1.0'
                       || chr(13) || chr(10) AS text
            FROM bucketed
        )
        SELECT * FROM (
            SELECT * FROM conv UNION ALL SELECT * FROM info
        )
        ORDER BY file_id, rec_index
    """


ORACLES["wat_metadata"] = """
        SELECT 'https://p.example.com/' || doc_id::VARCHAR AS target_uri,
               'Doc ' || doc_id::VARCHAR AS title,
               (CASE WHEN doc_id % 3 = 0 THEN 0
                     WHEN doc_id % 3 = 1 THEN 1
                     ELSE 2 END)::BIGINT AS n_links,
               CASE WHEN doc_id % 3 >= 1
                    THEN 'https://h' || (doc_id % 20)::VARCHAR
                         || '.example.com/p/' || doc_id::VARCHAR
               END AS first_link
        FROM documents
        ORDER BY target_uri
    """


ORACLES["mime_sniff"] = """
        SELECT doc_id,
               CASE doc_id % 16
                   WHEN 0 THEN 'application/pdf'
                   WHEN 1 THEN 'application/rtf'
                   WHEN 2 THEN 'application/zip'
                   WHEN 3 THEN 'image/png'
                   WHEN 4 THEN 'image/gif'
                   WHEN 5 THEN 'image/jpeg'
                   WHEN 6 THEN 'image/bmp'
                   WHEN 7 THEN 'video/webm'
                   WHEN 8 THEN 'application/warc'
                   WHEN 9 THEN 'audio/wav'
                   WHEN 10 THEN 'video/x-msvideo'
                   WHEN 11 THEN 'video/mp4'
                   WHEN 12 THEN 'application/gzip'
                   WHEN 13 THEN 'text/html'
                   WHEN 14 THEN 'text/plain'
                   ELSE 'application/octet-stream'
               END AS mime
        FROM documents
        ORDER BY doc_id
    """


ORACLES["anchor_text_stats"] = f"""
        WITH pages AS (
            SELECT 'https://h' || (doc_id % 20)::VARCHAR
                       || '.example.com/p/' || doc_id::VARCHAR AS url,
                   '<html><body><a href="'
                       || 'https://t' || (doc_id % 10)::VARCHAR || '.example.com/'
                       || '">'
                       || CASE WHEN doc_id % 3 = 1 THEN 'read more'
                               ELSE 'click here' END
                       || '</a> <A HREF="'
                       || 'https://t' || (doc_id % 10)::VARCHAR || '.example.com/'
                       || '">  site   ' || (doc_id % 2)::VARCHAR
                       || chr(10) || ' page</A><a href="'
                       || 'https://u' || (doc_id % 7)::VARCHAR || '.example.com/x'
                       || '" rel=nofollow>Example — Site '
                       || (doc_id % 13)::VARCHAR
                       || '</a><a href="'
                       || 'https://t' || (doc_id % 10)::VARCHAR || '.example.com/'
                       || '"><b>skip</b></a><a href="/rel">skip too</a>'
                       || '</body></html>' AS html
            FROM documents
        ),
        raw AS (
            SELECT unnest(regexp_extract_all(html,
                       '(?i)<a\\s(?:[^>]*\\s)?href\\s*=\\s*"([^"]*)"[^>]*>([^<]*)</a>',
                       1)) AS dst_url,
                   unnest(regexp_extract_all(html,
                       '(?i)<a\\s(?:[^>]*\\s)?href\\s*=\\s*"([^"]*)"[^>]*>([^<]*)</a>',
                       2)) AS raw_text
            FROM pages
        ),
        a AS (
            SELECT dst_url,
                   {collapse_sql("raw_text")} AS anchor_text
            FROM raw
            WHERE (dst_url LIKE 'http://%' OR dst_url LIKE 'https://%')
        ),
        c AS (
            SELECT dst_url, anchor_text, count(*)::BIGINT AS n
            FROM a WHERE anchor_text <> ''
            GROUP BY dst_url, anchor_text
        )
        SELECT dst_url, n_anchors, n_unique_texts,
               anchor_text AS top_anchor_text, n AS top_n
        FROM (
            SELECT dst_url, anchor_text, n,
                   sum(n) OVER (PARTITION BY dst_url)::BIGINT AS n_anchors,
                   count(*) OVER (PARTITION BY dst_url)::BIGINT
                       AS n_unique_texts,
                   row_number() OVER (PARTITION BY dst_url
                                      ORDER BY n DESC, anchor_text) AS rn
            FROM c
        )
        WHERE rn = 1
        ORDER BY dst_url
    """


ORACLES["feed_discovery"] = """
        WITH hosts AS (
            SELECT DISTINCT (doc_id % 20) AS hid FROM documents
        ),
        lm AS (
            SELECT hid,
                   'https://h' || hid::VARCHAR || '.example.com'
                       AS base
            FROM hosts
        )
        SELECT base || '/feed' AS feed_url,
               CASE WHEN hid % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind,
               CASE WHEN hid % 2 = 0 THEN
                   CASE u.i WHEN 0 THEN base || '/p/a'
                            ELSE base || '/p/b' END
               ELSE
                   CASE u.i WHEN 0 THEN base || '/e/1'
                            ELSE base || '/e/2' END
               END AS link,
               CASE WHEN hid % 2 = 0 THEN
                   CASE u.i WHEN 0
                       THEN 'News ' || hid::VARCHAR || ' & views'
                       ELSE 'Deep <dive>' END
               ELSE
                   CASE u.i WHEN 0 THEN 'Entry ' || hid::VARCHAR
                            ELSE 'Plain' END
               END AS title,
               CASE WHEN u.i = 0 AND hid % 2 = 0
                    THEN 'Mon, 17 Aug 2026 0' || (hid % 10)::VARCHAR
                         || ':00:00 GMT'
                    WHEN u.i = 0 THEN '2026-08-17T10:00:00Z'
                    ELSE NULL END AS published
        FROM lm
        JOIN (SELECT unnest(range(0, 2)) AS i) u ON true
        ORDER BY feed_url, link
    """


ORACLES["sitemap_discovery"] = """
        WITH hosts AS (
            SELECT DISTINCT (doc_id % 20) AS hid FROM documents
        ),
        lm AS (
            SELECT hid,
                   'h' || hid::VARCHAR || '.example.com' AS host,
                   'https://h' || hid::VARCHAR || '.example.com' AS base,
                   '2026-0' || ((hid % 8) + 1)::VARCHAR || '-15' AS lastmod
            FROM hosts
        )
        SELECT host,
               CASE WHEN hid % 2 = 0 THEN 'urlset' ELSE 'index' END AS kind,
               CASE WHEN hid % 2 = 0 THEN
                   CASE u.i WHEN 0 THEN base || '/p/a?x=1&y=2'
                            ELSE base || '/p/b' END
               ELSE
                   CASE u.i WHEN 0 THEN base || '/sitemap-0.xml'
                            ELSE base || '/sitemap-1.xml' END
               END AS loc,
               CASE WHEN u.i = 0 THEN lastmod ELSE NULL END AS lastmod
        FROM lm
        JOIN (SELECT unnest(range(0, 2)) AS i) u ON true
        ORDER BY host, loc
    """


ORACLES["robots_gate"] = """
        SELECT 'https://h' || (doc_id % 20)::VARCHAR || '.example.com'
                   || CASE doc_id % 6
                        WHEN 0 THEN '/p/' || (doc_id % 20)::VARCHAR
                        WHEN 1 THEN '/p/' || (doc_id % 20)::VARCHAR
                                    || '/pub/x'
                        WHEN 2 THEN '/tmp/cache/1'
                        WHEN 3 THEN '/exact'
                        WHEN 4 THEN '/exactly'
                        ELSE '/other' END
                   || '?q=' || doc_id::VARCHAR AS url,
               doc_id % 6 NOT IN (0, 2, 3) AS allowed
        FROM documents
        ORDER BY url
    """


ORACLES["crawl_delta"] = """
        SELECT 'https://h' || (doc_id % 20)::VARCHAR || '.example.com/p/'
                   || doc_id::VARCHAR AS url,
               CASE WHEN doc_id % 5 = 4 THEN 'added'
                    WHEN doc_id % 5 = 3 THEN 'removed'
                    WHEN doc_id % 7 = 0 THEN 'changed'
                    ELSE 'unchanged' END AS status,
               CASE WHEN doc_id % 5 = 4 THEN NULL
                    ELSE md5('v1-' || doc_id::VARCHAR) END AS old_md5,
               CASE WHEN doc_id % 5 = 3 THEN NULL
                    WHEN doc_id % 7 = 0 THEN md5('v2-' || doc_id::VARCHAR)
                    ELSE md5('v1-' || doc_id::VARCHAR) END AS new_md5
        FROM documents
        ORDER BY url
    """


ORACLES["html_meta"] = """
        SELECT doc_id,
               'Doc ' || doc_id::VARCHAR AS title,
               CASE WHEN doc_id % 4 = 2 THEN NULL
                    ELSE 'desc ' || ((doc_id * 7) % 100)::VARCHAR
               END AS meta_description,
               'https://h' || (doc_id % 20)::VARCHAR
                   || '.example.com/p/' || doc_id::VARCHAR AS canonical_url,
               CASE WHEN doc_id % 4 = 3 THEN NULL
                    ELSE 'OG ' || doc_id::VARCHAR
               END AS og_title
        FROM documents
        ORDER BY doc_id
    """


ORACLES["canonical_url_dedup"] = """
        WITH urls AS (
            SELECT doc_id,
                   CASE doc_id % 4
                     WHEN 0 THEN 'https://www.src'
                          || ((doc_id // 4) % 20)::VARCHAR
                          || '.example.com:443/page/' || (doc_id // 4)::VARCHAR
                          || '?utm_source=feed&b=2&a=1#frag'
                     WHEN 1 THEN 'HTTPS://SRC'
                          || ((doc_id // 4) % 20)::VARCHAR
                          || '.EXAMPLE.COM/page/' || (doc_id // 4)::VARCHAR
                          || '/?a=1&b=2'
                     WHEN 2 THEN 'https://src'
                          || ((doc_id // 4) % 20)::VARCHAR
                          || '.example.com/page/' || (doc_id // 4)::VARCHAR
                          || '?b=2&utm_campaign=x&a=1&ref=rss'
                     ELSE 'https://src'
                          || ((doc_id // 4) % 20)::VARCHAR
                          || '.example.com:8080/page/' || (doc_id // 4)::VARCHAR
                          || '?a=1&b=2'
                   END AS url
            FROM documents
        ),
        auth AS (
            SELECT doc_id, url,
                   lower(regexp_extract(url,
                       '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                   lower(regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1))
                       AS authority
            FROM urls
        ),
        parts AS (
            SELECT doc_id, scheme,
                   regexp_replace(regexp_replace(authority,
                       ':[0-9]+$', ''), '^www\\.', '')
                   || CASE WHEN regexp_extract(authority,
                               ':([0-9]+)$', 1) <> ''
                            AND NOT (scheme = 'https' AND regexp_extract(
                                authority, ':([0-9]+)$', 1) = '443')
                            AND NOT (scheme = 'http' AND regexp_extract(
                                authority, ':([0-9]+)$', 1) = '80')
                       THEN ':' || regexp_extract(authority, ':([0-9]+)$', 1)
                       ELSE '' END AS host,
                   regexp_replace(regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
                       '/+$', '') AS path,
                   array_to_string(list_sort(list_filter(
                       string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
                       p -> p <> '' AND NOT regexp_matches(p,
                           '^(utm_[^=]*|fbclid|gclid|ref)='))), '&') AS qs
            FROM auth
        )
        SELECT scheme || '://' || host || path
               || CASE WHEN qs <> '' THEN '?' || qs ELSE '' END
                   AS canonical_url,
               count(*) AS n_variants,
               min(doc_id) AS rep_doc
        FROM parts
        GROUP BY 1
        ORDER BY canonical_url
    """


ORACLES["host_link_graph"] = """
        WITH pages AS (
            SELECT 'https://h' || (doc_id % 20)::VARCHAR
                       || '.example.com/p/' || doc_id::VARCHAR AS url,
                   '<html><body><p>intro</p><a href="'
                       || 'https://h' || ((doc_id * 7 + 1) % 20)::VARCHAR
                       || '.example.com/x">one</a> <a href='''
                       || 'https://h' || ((doc_id * 3 + 2) % 20)::VARCHAR
                       || '.example.com/y''>two</a><a href=/rel>skip</a><a href='
                       || 'https://h' || ((doc_id * 7 + 1) % 20)::VARCHAR
                       || '.example.com/bare>three</a><map name=m>'
                       || '<area shape=rect href="'
                       || 'https://h' || ((doc_id * 11 + 5) % 20)::VARCHAR
                       || '.example.com/map"></map></body></html>' AS html
            FROM documents
        ),
        links AS (
            SELECT url AS src_url,
                   unnest(
                       regexp_extract_all(html,
                           '<[aA](?:[rR][eE][aA])?\\s[^>]*[hH][rR][eE][fF]\\s*=\\s*"([^"]*)"', 1)
                       || regexp_extract_all(html,
                           '<[aA](?:[rR][eE][aA])?\\s[^>]*[hH][rR][eE][fF]\\s*=\\s*''([^'']*)''', 1)
                       || regexp_extract_all(html,
                           '<[aA](?:[rR][eE][aA])?\\s[^>]*[hH][rR][eE][fF]\\s*=\\s*([^\\s>"''][^\\s>]*)', 1)
                   ) AS dst_url
            FROM pages
        )
        SELECT lower(regexp_extract(src_url, '^https?://([^/?#]+)', 1))
                   AS src_host,
               lower(regexp_extract(dst_url, '^https?://([^/?#]+)', 1))
                   AS dst_host,
               count(*) AS n_links
        FROM links
        WHERE dst_url LIKE 'http://%' OR dst_url LIKE 'https://%'
        GROUP BY 1, 2
        ORDER BY src_host, dst_host
    """


ORACLES["host_pagerank"] = """
        WITH es AS (
            SELECT DISTINCT (doc_id % 20) AS src,
                            ((doc_id * 7 + 1) % 20) AS dst
            FROM documents
            UNION
            SELECT DISTINCT (doc_id % 20), ((doc_id * 3 + 2) % 20)
            FROM documents
            UNION
            SELECT DISTINCT (doc_id % 20), ((doc_id * 11 + 5) % 20)
            FROM documents
        ),
        nodes AS (SELECT src AS n FROM es UNION SELECT dst FROM es),
        dg AS (SELECT src, count(*) AS deg FROM es GROUP BY src),
        r0 AS (SELECT n, CAST(1000000000 AS BIGINT) AS rank FROM nodes),
        r1 AS (
            SELECT n.n, CAST(150000000
                       + (85 * coalesce(s.c, 0)) // 100 AS BIGINT) AS rank
            FROM nodes n LEFT JOIN (
                SELECT e.dst AS n, sum(r.rank // d.deg) AS c
                FROM es e JOIN r0 r ON r.n = e.src JOIN dg d ON d.src = e.src
                GROUP BY e.dst) s ON s.n = n.n
        ),
        r2 AS (
            SELECT n.n, CAST(150000000
                       + (85 * coalesce(s.c, 0)) // 100 AS BIGINT) AS rank
            FROM nodes n LEFT JOIN (
                SELECT e.dst AS n, sum(r.rank // d.deg) AS c
                FROM es e JOIN r1 r ON r.n = e.src JOIN dg d ON d.src = e.src
                GROUP BY e.dst) s ON s.n = n.n
        ),
        r3 AS (
            SELECT n.n, CAST(150000000
                       + (85 * coalesce(s.c, 0)) // 100 AS BIGINT) AS rank
            FROM nodes n LEFT JOIN (
                SELECT e.dst AS n, sum(r.rank // d.deg) AS c
                FROM es e JOIN r2 r ON r.n = e.src JOIN dg d ON d.src = e.src
                GROUP BY e.dst) s ON s.n = n.n
        ),
        r4 AS (
            SELECT n.n, CAST(150000000
                       + (85 * coalesce(s.c, 0)) // 100 AS BIGINT) AS rank
            FROM nodes n LEFT JOIN (
                SELECT e.dst AS n, sum(r.rank // d.deg) AS c
                FROM es e JOIN r3 r ON r.n = e.src JOIN dg d ON d.src = e.src
                GROUP BY e.dst) s ON s.n = n.n
        ),
        r5 AS (
            SELECT n.n, CAST(150000000
                       + (85 * coalesce(s.c, 0)) // 100 AS BIGINT) AS rank
            FROM nodes n LEFT JOIN (
                SELECT e.dst AS n, sum(r.rank // d.deg) AS c
                FROM es e JOIN r4 r ON r.n = e.src JOIN dg d ON d.src = e.src
                GROUP BY e.dst) s ON s.n = n.n
        )
        SELECT 'h' || n::VARCHAR || '.example.com' AS host, rank
        FROM r5
        ORDER BY host
    """


ORACLES["warc_roundtrip"] = """
        SELECT doc_id // 10 AS file_id,
               CAST(row_number() OVER (PARTITION BY doc_id // 10
                                       ORDER BY doc_id) - 1
                   AS INTEGER) AS rec_index,
               'response' AS warc_type,
               'https://crawl.example.com/doc/' || doc_id::VARCHAR
                   AS target_uri,
               CAST(octet_length(encode(coalesce(text, ''))) AS INTEGER)
                   AS n_bytes,
               coalesce(text, '') AS text
        FROM documents
        ORDER BY file_id, rec_index
    """


ORACLES["robots_meta"] = """
    WITH hosts AS (SELECT DISTINCT (doc_id % 20) AS hid FROM documents)
    SELECT 'h' || hid::VARCHAR || '.example.com' AS host,
           CAST(hid * 1000 + 500 AS BIGINT) AS crawl_delay_ms,
           s.sm_index,
           'https://h' || hid::VARCHAR || '.example.com/' || s.name
               AS sitemap
    FROM hosts, (VALUES (0, 'sitemap.xml'), (1, 'news.xml'))
        AS s(sm_index, name)
    ORDER BY host, sm_index
"""


ORACLES["warc_http"] = """
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 4 THEN NULL
                ELSE 200 + (doc_id % 2) * 204 END AS http_status,
           CASE WHEN doc_id % 5 = 4 THEN NULL
                ELSE 'text/html; charset=utf-8' END AS http_content_type,
           CASE WHEN doc_id % 5 = 4 THEN NULL
                ELSE coalesce(text, '') END AS body_text,
           CASE WHEN doc_id % 5 = 4 THEN 'truncated chunk data'
                ELSE NULL END AS http_error
    FROM documents
    ORDER BY doc_id
"""


ORACLES["cdx_index"] = _cdx_oracle()


def q_warc_revisit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-storage dedup through the real WARC container
    (dataops/revisit.py): a deterministic capture history — 1-3 fetches
    per url on consecutive days, payload collisions both across refetches
    of the same url and across urls (doc_id % 97 payload classes) — is
    written as a deduplicated revisit archive, reparsed through
    `records_from_warc`, and the classification read back off the
    records' own headers.  The oracle replays the digest-window
    classification in SQL; the container write+parse is the identity the
    writer twin pins (same pattern as `wet_roundtrip`/`warc_roundtrip`)."""
    from open_ocr_spark.dataops.revisit import revisit_warc_files
    from open_ocr_spark.sources import records_from_warc

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id").cast("string")
    caps = docs.select(
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 20).cast("string"),
            F.lit(".example.com/p/"), i,
        ).alias("url"),
        F.encode(
            F.concat(F.lit("payload "), (F.col("doc_id") % 97).cast("string")),
            "utf-8",
        ).alias("payload"),
        F.explode(
            F.sequence(F.lit(0), (F.col("doc_id") % 3).cast("int"))
        ).alias("cap"),
    ).select(
        "url", "payload",
        F.concat(
            F.lit("2024-01-0"), (F.col("cap") + 1).cast("string"),
            F.lit("T00:00:00Z"),
        ).alias("warc_date"),
    )
    files = revisit_warc_files(caps, num_buckets=8)
    return (
        records_from_warc(files, "warc")
        .filter(F.col("warc_type") != "warcinfo")
        .select(
            F.col("target_uri").alias("uri"),
            "warc_date",
            "warc_type",
            "payload_digest",
            "refers_to_uri",
            F.octet_length("payload").cast("long").alias("stored_len"),
        )
        .orderBy("uri", "warc_date")
    )


ORACLES["warc_revisit"] = """
    WITH caps AS (
        SELECT 'https://h' || (doc_id % 20)::VARCHAR || '.example.com/p/'
                   || doc_id::VARCHAR AS uri,
               'payload ' || (doc_id % 97)::VARCHAR AS payload,
               unnest(([0,1,2])[1:(doc_id % 3 + 1)]) AS cap
        FROM documents
    ), dated AS (
        SELECT uri, payload,
               '2024-01-0' || (cap + 1)::VARCHAR || 'T00:00:00Z'
                   AS warc_date
        FROM caps
    ), tagged AS (
        SELECT uri, warc_date,
               'md5:' || md5(payload) AS payload_digest,
               strlen(payload) AS payload_len,
               row_number() OVER w AS rn,
               first_value(uri) OVER w AS head_uri
        FROM dated
        WINDOW w AS (PARTITION BY md5(payload) ORDER BY warc_date, uri)
    )
    SELECT uri, warc_date,
           CASE WHEN rn = 1 THEN 'response' ELSE 'revisit' END AS warc_type,
           payload_digest,
           CASE WHEN rn = 1 THEN NULL ELSE head_uri END AS refers_to_uri,
           CAST(CASE WHEN rn = 1 THEN payload_len ELSE 0 END AS BIGINT)
               AS stored_len
    FROM tagged
    ORDER BY uri, warc_date
"""


def q_registrable_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Owner-level domain rollup (r5, dataops/urls.py
    public_suffix_parts): PSL longest-match over a fixture URL set that
    exercises every rule shape — two subdomain spellings of one co.uk
    owner (must merge: 2 hosts, 1 registrable), a nested .com subdomain,
    a multi-label private suffix (github.io, where the OWNER is
    team.github.io, not github.io), a host that IS a public suffix
    (registrable NULL), an unlisted TLD on the implicit-* fallback, and
    a single-label fallback host (NULL).  The oracle replays the
    longest-match scan with DuckDB list lambdas over the same unrolled
    PSL — an off-by-one in the label slice, a shortest-match slip, or a
    wrong fallback all move rows across groups and break the hash."""
    from open_ocr_spark.dataops.urls import registrable_domain_stats

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    s = lambda m: (d % m).cast("string")  # noqa: E731
    urls = docs.select(
        F.explode(
            F.array(
                F.concat(F.lit("https://www.shop"), s(5),
                         F.lit(".co.uk/p/"), d.cast("string")),
                F.concat(F.lit("http://blog.shop"), s(5),
                         F.lit(".co.uk/"), d.cast("string")),
                F.concat(F.lit("https://a"), s(3), F.lit(".b.site"), s(7),
                         F.lit(".com/x")),
                F.concat(F.lit("https://team"), s(4),
                         F.lit(".github.io/"), d.cast("string")),
                F.lit("https://CO.UK/"),
                F.concat(F.lit("https://node"), s(4), F.lit(".internal/x")),
                F.lit("https://localhost/x"),
            )
        ).alias("url")
    )
    return registrable_domain_stats(urls).orderBy(
        F.asc("suffix"), F.asc_nulls_first("registrable")
    )


def _registrable_domain_oracle() -> str:
    from open_ocr_spark.dataops.urls import PSL_MINI

    psl = ", ".join(f"'{s}'" for s in PSL_MINI)
    return f"""
        WITH urls AS (
            SELECT unnest([
                'https://www.shop' || (doc_id % 5)::VARCHAR
                    || '.co.uk/p/' || doc_id::VARCHAR,
                'http://blog.shop' || (doc_id % 5)::VARCHAR
                    || '.co.uk/' || doc_id::VARCHAR,
                'https://a' || (doc_id % 3)::VARCHAR || '.b.site'
                    || (doc_id % 7)::VARCHAR || '.com/x',
                'https://team' || (doc_id % 4)::VARCHAR
                    || '.github.io/' || doc_id::VARCHAR,
                'https://CO.UK/',
                'https://node' || (doc_id % 4)::VARCHAR || '.internal/x',
                'https://localhost/x'
            ]) AS url
            FROM documents
        ),
        hosts AS (
            SELECT lower(regexp_extract(url, '^[a-zA-Z]+://([^/:?#]+)', 1))
                       AS host
            FROM urls
        ),
        parts AS (
            SELECT host, string_split(host, '.') AS labels,
                   len(string_split(host, '.')) AS n
            FROM hosts
        ),
        matched AS (
            SELECT host, labels, n,
                   coalesce(
                       list_filter(
                           range(1, n + 1),
                           i -> array_to_string(labels[i:n], '.')
                                    IN ({psl})
                       )[1],
                       n
                   ) AS start
            FROM parts
        ),
        decomp AS (
            SELECT host,
                   array_to_string(labels[start:n], '.') AS suffix,
                   CASE WHEN start >= 2
                        THEN array_to_string(labels[start-1:n], '.')
                   END AS registrable
            FROM matched
        )
        SELECT registrable, suffix,
               count(*) AS n_urls,
               count(DISTINCT host) AS n_hosts
        FROM decomp
        GROUP BY registrable, suffix
        ORDER BY suffix ASC, registrable ASC NULLS FIRST
    """


ORACLES["registrable_domain"] = _registrable_domain_oracle()


_RESOLVE_REFS = [
    "g", "./g", "../g", "../../up", "/root/x",
    "//cdn.example.org/lib.js", "?y=2", "#frag", "",
    "img/./a.png", "img/../b.png", "mailto:u@example.com",
]


def q_resolve_relative_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 3986 reference resolution (r5, dataops/resolveurl.py): every
    document page fans out to twelve crawl-shaped refs — plain/dotted
    relative paths, parent traversal past the directory, absolute path,
    protocol-relative, query-only, fragment-only, empty, in-path dot
    segments, and a foreign scheme — resolved against a per-doc base.
    The oracle runs the SAME frozen policy through its DuckDB rendering
    (duckdb_resolve_sql, emitted from the shared pattern constants), so
    any drift between the two renderings, not just outright bugs, breaks
    the hash.  Pure projection: no join, no shuffle (plan test)."""
    from open_ocr_spark.dataops.resolveurl import resolve_url

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    base = F.concat(
        F.lit("https://h"), (d % 20).cast("string"),
        F.lit(".example.com/s"), (d % 5).cast("string"),
        F.lit("/t"), (d % 3).cast("string"),
        F.lit("/page.html?q="), (d % 7).cast("string"),
    )
    pairs = docs.select(
        "doc_id",
        base.alias("base"),
        F.posexplode(F.array(*[F.lit(r) for r in _RESOLVE_REFS])).alias(
            "ref_idx", "ref"
        ),
    )
    return pairs.select(
        "doc_id",
        F.col("ref_idx").cast("long").alias("ref_idx"),
        "ref",
        resolve_url("base", "ref").alias("resolved"),
    ).orderBy("doc_id", "ref_idx")


def _resolve_relative_urls_oracle() -> str:
    from open_ocr_spark.dataops.resolveurl import duckdb_resolve_sql

    values = ", ".join(
        f"({i}, '{r}')" for i, r in enumerate(_RESOLVE_REFS)
    )
    return f"""
        WITH pairs AS (
            SELECT d.doc_id,
                   'https://h' || (d.doc_id % 20)::VARCHAR
                   || '.example.com/s' || (d.doc_id % 5)::VARCHAR
                   || '/t' || (d.doc_id % 3)::VARCHAR
                   || '/page.html?q=' || (d.doc_id % 7)::VARCHAR AS base,
                   r.ref_idx, r.ref
            FROM documents d, (VALUES {values}) AS r(ref_idx, ref)
        )
        SELECT doc_id, CAST(ref_idx AS BIGINT) AS ref_idx, ref,
               {duckdb_resolve_sql("base", "ref")} AS resolved
        FROM pairs
        ORDER BY doc_id, ref_idx
    """


ORACLES["resolve_relative_urls"] = _resolve_relative_urls_oracle()


def q_resolved_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link extraction with RFC 3986 resolution (r5,
    dataops/links.py extract_links_resolved): each fixture page carries
    seven hrefs across all three quoting classes — dotted relative,
    parent traversal, absolute path, protocol-relative, fragment-only,
    absolute external, and a mailto: that must drop at the http(s)
    filter.  Spark extracts them with the real regex passes and resolves
    against the page URL; the oracle takes the KNOWN href list and
    replays only the resolution policy through its DuckDB rendering — a
    dropped quoting class, a regex ordering change, or any resolution
    drift breaks the hash."""
    from open_ocr_spark.dataops.links import extract_links_resolved

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    s = lambda m: (d % m).cast("string")  # noqa: E731
    url = F.concat(
        F.lit("https://h"), s(20), F.lit(".example.com/dir"), s(3),
        F.lit("/page"), s(7), F.lit(".html"),
    )
    html = F.concat(
        F.lit('<html><body><a href="p/'), s(4),
        F.lit('">one</a><a href="../up'), s(3),
        F.lit('">two</a><a href="/abs/'), s(5),
        F.lit("\">three</a><a href='//cdn"), s(2),
        F.lit(".example.net/j'>four</a><a href=#frag>five</a>"),
        F.lit('<a href="https://ext'), s(6),
        F.lit('.example.org/x">six</a>'),
        F.lit('<a href="mailto:u@example.com">seven</a></body></html>'),
    )
    pages = docs.select(url.alias("url"), html.alias("html"))
    return extract_links_resolved(pages).orderBy("src_url", "dst_url")


def _resolved_link_graph_oracle() -> str:
    from open_ocr_spark.dataops.resolveurl import duckdb_resolve_sql

    # the fixture's hrefs, in their formula forms (d = doc_id)
    hrefs = [
        "'p/' || (doc_id % 4)::VARCHAR",
        "'../up' || (doc_id % 3)::VARCHAR",
        "'/abs/' || (doc_id % 5)::VARCHAR",
        "'//cdn' || (doc_id % 2)::VARCHAR || '.example.net/j'",
        "'#frag'",
        "'https://ext' || (doc_id % 6)::VARCHAR || '.example.org/x'",
        "'mailto:u@example.com'",
    ]
    arms = " ".join(
        f"WHEN {i} THEN {h}" for i, h in enumerate(hrefs)
    )
    return f"""
        WITH pairs AS (
            SELECT 'https://h' || (doc_id % 20)::VARCHAR
                   || '.example.com/dir' || (doc_id % 3)::VARCHAR
                   || '/page' || (doc_id % 7)::VARCHAR || '.html' AS base,
                   CASE u.i {arms} END AS ref
            FROM documents d,
                 (SELECT unnest(range(0, {len(hrefs)})) AS i) u
        ),
        resolved AS (
            SELECT base AS src_url,
                   {duckdb_resolve_sql("base", "ref")} AS dst_url
            FROM pairs
        )
        SELECT src_url, dst_url
        FROM resolved
        WHERE dst_url LIKE 'http://%' OR dst_url LIKE 'https://%'
        ORDER BY src_url, dst_url
    """


ORACLES["resolved_link_graph"] = _resolved_link_graph_oracle()


def q_base_href_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """<base href> honoring (r5, dataops/links.py base_href_raw +
    the staged resolver in extract_links_resolved): a
    third of the pages carry no base tag, a third a relative-to-origin
    absolute-path base (double-quoted), a third an absolute cross-host
    base (single-quoted) — the same three hrefs on every page must
    resolve against the page URL, the origin+path base, and the foreign
    host respectively.  The oracle computes each effective base
    closed-form and replays resolution through the DuckDB rendering — a
    wrong quote class, a base applied to the src_url identity column, or
    a base-tag regex matching <a> tags would all break the hash."""
    from open_ocr_spark.dataops.links import extract_links_resolved

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    s = lambda m: (d % m).cast("string")  # noqa: E731
    url = F.concat(
        F.lit("https://site"), s(8), F.lit(".example.com/a/b/page.html")
    )
    base_tag = (
        F.when(d % 3 == 0, F.lit(""))
        .when(
            d % 3 == 1,
            F.concat(F.lit('<base href="/cdn/v'), s(4), F.lit('/">')),
        )
        .otherwise(
            F.concat(
                F.lit("<base href='https://static"), s(5),
                F.lit(".example.net/lib/'>"),
            )
        )
    )
    html = F.concat(
        F.lit("<html><head>"), base_tag,
        F.lit('</head><body><a href="img/x.png">i</a>'
              '<a href="../up.css">u</a>'
              '<a href="/rooted.js">r</a></body></html>'),
    )
    pages = docs.select(url.alias("url"), html.alias("html"))
    return extract_links_resolved(pages).orderBy("src_url", "dst_url")


def _base_href_links_oracle() -> str:
    from open_ocr_spark.dataops.resolveurl import duckdb_resolve_sql

    return f"""
        WITH pages AS (
            SELECT doc_id,
                   'https://site' || (doc_id % 8)::VARCHAR
                   || '.example.com/a/b/page.html' AS src_url,
                   CASE doc_id % 3
                       WHEN 0 THEN 'https://site' || (doc_id % 8)::VARCHAR
                                   || '.example.com/a/b/page.html'
                       WHEN 1 THEN 'https://site' || (doc_id % 8)::VARCHAR
                                   || '.example.com/cdn/v'
                                   || (doc_id % 4)::VARCHAR || '/'
                       ELSE 'https://static' || (doc_id % 5)::VARCHAR
                            || '.example.net/lib/'
                   END AS base
            FROM documents
        ),
        pairs AS (
            SELECT src_url, base, r.ref
            FROM pages,
                 (VALUES ('img/x.png'), ('../up.css'), ('/rooted.js'))
                     AS r(ref)
        ),
        resolved AS (
            SELECT src_url,
                   {duckdb_resolve_sql("base", "ref")} AS dst_url
            FROM pairs
        )
        SELECT src_url, dst_url FROM resolved
        WHERE dst_url LIKE 'http://%' OR dst_url LIKE 'https://%'
        ORDER BY src_url, dst_url
    """


ORACLES["base_href_links"] = _base_href_links_oracle()


def q_redirect_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution (r5, dataops/redirects.py): doc_ids form
    8-long 301 chains (each node's RELATIVE Location points at its
    predecessor; node 8k is the 200 terminal), and every 7th doc adds a
    2-cycle 302 loop pair.  Pointer doubling must land every chain node
    on its terminal with exact hop counts and mark the loop rows looped
    at exactly max_hops=8 (even cycle: final = self).  The oracle states
    the closed form INDEPENDENTLY of the doubling — final = node d-d%8,
    hops = d%8 — so it verifies the algorithm, not merely replays it; a
    short-circuit bug, a hop-accounting slip, or Location resolution
    against the wrong base all break the hash."""
    from open_ocr_spark.dataops.redirects import resolve_redirect_chains

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    chain = docs.select(
        F.concat(F.lit("https://r.example.com/u/"), d.cast("string")).alias(
            "url"
        ),
        F.when(d % 8 == 0, F.lit(200)).otherwise(F.lit(301)).alias("status"),
        F.when(
            d % 8 != 0, F.concat(F.lit("/u/"), (d - 1).cast("string"))
        ).alias("location"),
    )
    loop_docs = docs.filter(d % 7 == 0)
    loop_a = loop_docs.select(
        F.concat(F.lit("https://r.example.com/loop/"), d.cast("string"),
                 F.lit("/a")).alias("url"),
        F.lit(302).alias("status"),
        F.concat(F.lit("/loop/"), d.cast("string"), F.lit("/b")).alias(
            "location"
        ),
    )
    loop_b = loop_docs.select(
        F.concat(F.lit("https://r.example.com/loop/"), d.cast("string"),
                 F.lit("/b")).alias("url"),
        F.lit(302).alias("status"),
        F.concat(F.lit("/loop/"), d.cast("string"), F.lit("/a")).alias(
            "location"
        ),
    )
    captures = chain.unionAll(loop_a).unionAll(loop_b)
    return resolve_redirect_chains(captures, max_hops=8).orderBy("url")


ORACLES["redirect_chains"] = """
        WITH rows AS (
            SELECT 'https://r.example.com/u/' || doc_id::VARCHAR AS url,
                   'https://r.example.com/u/'
                       || (doc_id - doc_id % 8)::VARCHAR AS final_url,
                   CAST(doc_id % 8 AS BIGINT) AS hops,
                   FALSE AS looped
            FROM documents
            UNION ALL
            SELECT 'https://r.example.com/loop/' || doc_id::VARCHAR
                       || '/' || s.side AS url,
                   'https://r.example.com/loop/' || doc_id::VARCHAR
                       || '/' || s.side AS final_url,
                   CAST(8 AS BIGINT) AS hops,
                   TRUE AS looped
            FROM documents, (VALUES ('a'), ('b')) AS s(side)
            WHERE doc_id % 7 = 0
        )
        SELECT url, final_url, hops, looped FROM rows ORDER BY url
    """


def q_canonical_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-key assignment (r5, dataops/canonical.py): the frozen
    priority rel-canonical > redirect-final > self over a five-class
    fixture — rel=canonical pages (relative href), meta-refresh pages
    (both attribute orders), HTTP-301 captures (relative Location,
    dangling target), and plain pages.  The oracle states each class's
    canonical key closed-form — a priority inversion, a refresh target
    parsed from the wrong attribute order, an HTTP edge losing to a
    refresh edge, or recursion through the target's own signals would
    all break the hash."""
    from open_ocr_spark.dataops.canonical import assign_canonical

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(F.lit("https://c.example.com/p/"), d.cast("string"))
    refresh_fwd = F.concat(
        F.lit('<meta http-equiv="refresh" content="0; url=/p/'),
        (d - 1).cast("string"), F.lit('">'),
    )
    refresh_rev = F.concat(
        F.lit('<meta content="0; url=/p/'), (d - 1).cast("string"),
        F.lit('" http-equiv="refresh">'),
    )
    head = (
        F.when(
            d % 5 == 0,
            F.concat(F.lit('<link rel="canonical" href="/canon/'),
                     (d % 10).cast("string"), F.lit('">')),
        )
        .when(d % 5 == 1, F.when(d % 2 == 1, refresh_rev)
              .otherwise(refresh_fwd))
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit("<html><head>"), head,
        F.lit("</head><body><p>x</p></body></html>"),
    )
    pages = docs.select(url.alias("url"), html.alias("html"))
    captures = docs.filter(d % 5 == 2).select(
        url.alias("url"),
        F.lit(301).alias("status"),
        F.concat(F.lit("/final/"), (d % 7).cast("string")).alias(
            "location"
        ),
    )
    return assign_canonical(pages, captures).orderBy("url")


ORACLES["canonical_assignment"] = """
        SELECT 'https://c.example.com/p/' || doc_id::VARCHAR AS url,
               CASE doc_id % 5
                   WHEN 0 THEN 'https://c.example.com/canon/'
                               || (doc_id % 10)::VARCHAR
                   WHEN 1 THEN 'https://c.example.com/p/'
                               || (doc_id - 1)::VARCHAR
                   WHEN 2 THEN 'https://c.example.com/final/'
                               || (doc_id % 7)::VARCHAR
                   ELSE 'https://c.example.com/p/' || doc_id::VARCHAR
               END AS canonical_key,
               CASE doc_id % 5
                   WHEN 0 THEN 'rel_canonical'
                   WHEN 1 THEN 'redirect'
                   WHEN 2 THEN 'redirect'
                   ELSE 'self'
               END AS signal
        FROM documents
        ORDER BY url
    """


def q_url_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-shape spam features (r5, dataops/urls.py url_features): four
    fixture classes — a digit-heavy tracking-laden deep URL, a bare
    origin with an empty path, a constant deep multi-param co.uk URL,
    and a short article URL.  All-integer outputs (digit_permille is
    floor fixed-point); the oracle re-derives host/path/query with
    regexes and replays every count — a parse_url-vs-regex drift, an
    off-by-one in the empty-segment filters, or a float ratio would all
    break the hash."""
    from open_ocr_spark.dataops.urls import url_features

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    ds = d.cast("string")
    url = (
        F.when(
            d % 4 == 0,
            F.concat(F.lit("https://a1b2.sub"), (d % 3).cast("string"),
                     F.lit(".example.com/p"), ds, F.lit("/x2y/item"), ds,
                     F.lit("?utm_source=feed&id="), (d % 9).cast("string")),
        )
        .when(d % 4 == 1, F.lit("https://example.com/"))
        .when(d % 4 == 2,
              F.lit("https://deep.example.co.uk/a/b/c/d/e?x=1&y=2&z=3"))
        .otherwise(
            F.concat(F.lit("https://h"), (d % 5).cast("string"),
                     F.lit(".example.net/art-"), ds)
        )
    )
    return url_features(docs.select(url.alias("url"))).orderBy("url")


ORACLES["url_features"] = """
        WITH urls AS (
            SELECT CASE doc_id % 4
                WHEN 0 THEN 'https://a1b2.sub' || (doc_id % 3)::VARCHAR
                    || '.example.com/p' || doc_id::VARCHAR || '/x2y/item'
                    || doc_id::VARCHAR || '?utm_source=feed&id='
                    || (doc_id % 9)::VARCHAR
                WHEN 1 THEN 'https://example.com/'
                WHEN 2 THEN 'https://deep.example.co.uk/a/b/c/d/e?x=1&y=2&z=3'
                ELSE 'https://h' || (doc_id % 5)::VARCHAR
                    || '.example.net/art-' || doc_id::VARCHAR
            END AS url
            FROM documents
        ),
        parts AS (
            SELECT url,
                   regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
                   regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1)
                       AS path,
                   regexp_extract(url, '\\?([^#]*)', 1) AS query
            FROM urls
        )
        SELECT url,
               CAST(len(list_filter(string_split(host, '.'),
                                    x -> x != '')) AS BIGINT)
                   AS host_labels,
               CAST(len(list_filter(string_split(path, '/'),
                                    x -> x != '')) AS BIGINT)
                   AS path_depth,
               CAST(len(list_filter(string_split(query, '&'),
                                    x -> x != '')) AS BIGINT)
                   AS n_query_params,
               CAST(CASE WHEN length(host || path) > 0
                    THEN floor(1000 * length(regexp_replace(
                             host || path, '[^0-9]', '', 'g'))
                         / length(host || path))
                    ELSE 0 END AS BIGINT) AS digit_permille,
               CAST(length(url) AS BIGINT) AS url_len,
               regexp_matches(query, '(^|&)(utm_[^=]*|fbclid|gclid|ref)=')
                   AS has_tracking
        FROM parts
        ORDER BY url
    """


def q_soft_404_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-404 detection (r5, dataops/quality_rules.py soft_404_gate):
    fixture captures mix error-phrase titles (two spellings), thin
    bodies, REAL 404 statuses (which must pass the gate untouched — the
    rule only distrusts 200s), and healthy pages; title beats thin in
    the reason column.  Closed-form oracle."""
    from open_ocr_spark.dataops.quality_rules import soft_404_gate

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    pages = docs.select(
        F.concat(F.lit("https://s.example.com/p/"), d.cast("string")).alias(
            "url"
        ),
        F.when(d % 10 == 3, F.lit(404)).otherwise(F.lit(200)).alias(
            "status"
        ),
        F.when(d % 6 == 0, F.lit("Page Not Found - Site"))
        .when(d % 6 == 1, F.lit("404 Error"))
        .otherwise(F.concat(F.lit("Doc "), d.cast("string")))
        .alias("title"),
        F.when(d % 5 == 4, F.lit("tiny"))
        .otherwise(F.rpad(F.coalesce(F.col("text"), F.lit("")), 40, "x"))
        .alias("text"),
    )
    return soft_404_gate(pages).orderBy("url")


ORACLES["soft_404_gate"] = """
        SELECT 'https://s.example.com/p/' || doc_id::VARCHAR AS url,
               CAST(CASE WHEN doc_id % 10 = 3 THEN 404 ELSE 200 END
                   AS INTEGER) AS status,
               (doc_id % 10 != 3)
                   AND (doc_id % 6 IN (0, 1) OR doc_id % 5 = 4)
                   AS is_soft_404,
               CASE WHEN doc_id % 10 = 3 THEN NULL
                    WHEN doc_id % 6 IN (0, 1) THEN 'title'
                    WHEN doc_id % 5 = 4 THEN 'thin'
               END AS reason
        FROM documents
        ORDER BY url
    """


def q_warc_charset_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete ingest-to-text chain with transport charset (r5):
    WARC container → records_from_warc → http_responses → the header's
    Content-Type charset parameter feeds the extraction kernel's
    ``charset`` config var → extract_stage.  Even doc_ids are served as
    windows-1252 with ``charset=ISO-8859-1`` in the header (the label
    class must normalize) and must extract accented text intact; odd
    doc_ids send the same cp1252 bytes with a parameter-less
    Content-Type, so the sniff's utf-8 errors=replace degrades each
    accented byte to U+FFFD.  One chain, four layers (container,
    envelope, charset policy, extraction), one closed-form oracle."""
    def build(i: int) -> bytes:
        from open_ocr_spark.sources import build_http_response, build_warc

        html = (
            f"<html><body><p>Café {i} façade</p></body></html>"
        ).encode("cp1252")
        ct = (
            "text/html; charset=ISO-8859-1"
            if i % 2 == 0
            else "text/html"
        )
        raw = build_http_response(
            html, status=200, content_type=ct, chunked=i % 3 == 0
        )
        return build_warc(
            [(f"https://cs{i % 9}.example.com/{i}", raw)],
            gzip_members=True,
        )

    from open_ocr_spark.queries.extraction import extract_stage
    from open_ocr_spark.sources import http_responses, records_from_warc

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    files = twin_payloads(docs, build).withColumnRenamed("payload", "warc")
    recs = records_from_warc(files).select(
        "doc_id", "target_uri", "payload"
    )
    resp = http_responses(recs)
    charset = F.nullif(
        F.regexp_extract(
            F.coalesce(F.col("http_content_type"), F.lit("")),
            r"(?i);\s*charset=([^;\s]+)",
            1,
        ),
        F.lit(""),
    )
    pages = resp.select(
        F.col("target_uri").alias("url"),
        F.col("body").alias("html"),
        F.lit("eng").alias("lang"),
        "doc_id",
        F.when(
            charset.isNotNull(),
            F.concat(
                F.lit('{"config_vars": {"charset": "'), charset,
                F.lit('"}}'),
            ),
        )
        .otherwise(F.lit("{}"))
        .alias("engine_args_json"),
    )
    return (
        extract_stage(pages, passthrough=["doc_id"])
        .select("doc_id", "extracted_text", "status")
        .orderBy("doc_id")
    )


ORACLES["warc_charset_extract"] = """
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0
                    THEN 'Café ' || doc_id::VARCHAR || ' façade'
                    ELSE 'Caf' || chr(65533) || ' ' || doc_id::VARCHAR
                         || ' fa' || chr(65533) || 'ade'
               END AS extracted_text,
               'ok' AS status
        FROM documents
        ORDER BY doc_id
    """


def q_publish_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publication-date extraction (r5, dataops/htmlmeta.py
    extract_publish_date): four fixture classes — JSON-LD datePublished
    WITH a conflicting meta tag on the same page (priority must pick
    JSON-LD), meta article:published_time alone, a /YYYY/MM/DD/ URL
    path, and dateless pages (NULL/NULL).  Closed-form oracle with real
    DATE-typed values."""
    from open_ocr_spark.dataops.htmlmeta import extract_publish_date

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    mm = F.lpad((1 + d % 12).cast("string"), 2, "0")
    dd = F.lpad((1 + d % 28).cast("string"), 2, "0")
    url = (
        F.when(
            d % 4 == 2,
            F.concat(F.lit("https://n.example.com/2021/"), mm, F.lit("/"),
                     dd, F.lit("/story-"), d.cast("string")),
        )
        .otherwise(
            F.concat(F.lit("https://n.example.com/a/"), d.cast("string"))
        )
    )
    head = (
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit('<script type="application/ld+json">'
                      '{"@type": "Article", "datePublished": "2023-'),
                mm, F.lit("-"), dd,
                F.lit('T08:00:00Z"}</script>'
                      '<meta property="article:published_time" '
                      'content="1999-01-01T00:00:00Z">'),
            ),
        )
        .when(
            d % 4 == 1,
            F.concat(
                F.lit('<meta property="article:published_time" '
                      'content="2022-'), mm, F.lit("-"), dd,
                F.lit('T12:30:00+02:00">'),
            ),
        )
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit("<html><head>"), head,
        F.lit("</head><body><p>story</p></body></html>"),
    )
    pages = docs.select(url.alias("url"), html.alias("html"))
    return extract_publish_date(pages).orderBy("url")


ORACLES["publish_dates"] = """
        WITH rows AS (
            SELECT doc_id,
                   lpad((1 + doc_id % 12)::VARCHAR, 2, '0') AS mm,
                   lpad((1 + doc_id % 28)::VARCHAR, 2, '0') AS dd,
                   CASE WHEN doc_id % 4 = 2
                        THEN 'https://n.example.com/2021/'
                             || lpad((1 + doc_id % 12)::VARCHAR, 2, '0')
                             || '/' || lpad((1 + doc_id % 28)::VARCHAR, 2, '0')
                             || '/story-' || doc_id::VARCHAR
                        ELSE 'https://n.example.com/a/' || doc_id::VARCHAR
                   END AS url
            FROM documents
        )
        SELECT url,
               CASE doc_id % 4
                   WHEN 0 THEN CAST('2023-' || mm || '-' || dd AS DATE)
                   WHEN 1 THEN CAST('2022-' || mm || '-' || dd AS DATE)
                   WHEN 2 THEN CAST('2021-' || mm || '-' || dd AS DATE)
               END AS publish_date,
               CASE doc_id % 4
                   WHEN 0 THEN 'json_ld'
                   WHEN 1 THEN 'meta'
                   WHEN 2 THEN 'url_path'
               END AS date_source
        FROM rows
        ORDER BY url
    """


def q_crawl_delta_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-change revisit classification (r5, dataops/delta.py
    crawl_delta_near): the old snapshot is the documents corpus; the new
    snapshot keeps a quarter unchanged, appends a token to a quarter
    (small SimHash distance), rewrites a quarter with unrelated
    vocabulary (large distance), drops a quarter (removed), and adds
    fresh urls for every fifth doc.  The oracle rebuilds BOTH snapshots'
    62-bit md5-SimHash fingerprints with the unrolled 62-vote SQL and
    applies the same md5-equality + Hamming-threshold rules — the
    classification is fully value-derived, not closed-form asserted, so
    a popcount/xor slip or a threshold off-by-one breaks the hash."""
    from open_ocr_spark.dataops.delta import crawl_delta_near

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(F.lit("https://d.example.com/p/"), d.cast("string"))
    old = docs.select(url.alias("url"), F.col("text"))
    base_new = docs.filter(d % 4 != 3).select(
        url.alias("url"),
        F.when(d % 4 == 0, F.col("text"))
        .when(d % 4 == 1, F.concat(F.col("text"), F.lit(" edited")))
        .otherwise(
            F.concat(
                F.lit("totally different rewrite content block "),
                d.cast("string"),
                F.lit(" with unrelated vocabulary terms"),
            )
        )
        .alias("text"),
    )
    added = docs.filter(d % 5 == 0).select(
        F.concat(url, F.lit("-new")).alias("url"),
        F.concat(F.lit("fresh page "), d.cast("string")).alias("text"),
    )
    return crawl_delta_near(old, base_new.unionAll(added)).orderBy("url")


def _crawl_delta_near_oracle(minor_max: int = 6) -> str:
    return f"""
        WITH olds AS (
            SELECT 'https://d.example.com/p/' || doc_id::VARCHAR AS url,
                   text
            FROM documents
        ),
        news AS (
            SELECT 'https://d.example.com/p/' || doc_id::VARCHAR AS url,
                   CASE doc_id % 4
                       WHEN 0 THEN text
                       WHEN 1 THEN text || ' edited'
                       ELSE 'totally different rewrite content block '
                            || doc_id::VARCHAR
                            || ' with unrelated vocabulary terms'
                   END AS text
            FROM documents WHERE doc_id % 4 != 3
            UNION ALL
            SELECT 'https://d.example.com/p/' || doc_id::VARCHAR || '-new',
                   'fresh page ' || doc_id::VARCHAR
            FROM documents WHERE doc_id % 5 = 0
        ),
        sides AS (
            SELECT url, 0 AS side, text FROM olds
            UNION ALL
            SELECT url, 1 AS side, text FROM news
        ),
        norm AS (
            SELECT url, side,
                   {collapse_sql("text")} AS t
            FROM sides WHERE text IS NOT NULL
        ),
        md AS (SELECT url, side, md5(t) AS md FROM norm),
        toks AS (
            SELECT DISTINCT url, side, unnest({split_spaces_sql("t")}) AS tok
            FROM norm
        ),{simhash_ctes("url, side")},
        o AS (
            SELECT m.url, m.md AS old_md5, f.simhash AS old_sh
            FROM md m JOIN fp f ON f.url = m.url AND f.side = 0
            WHERE m.side = 0
        ),
        n AS (
            SELECT m.url, m.md AS new_md5, f.simhash AS new_sh
            FROM md m JOIN fp f ON f.url = m.url AND f.side = 1
            WHERE m.side = 1
        ),
        j AS (
            SELECT coalesce(o.url, n.url) AS url,
                   o.old_md5, o.old_sh, n.new_md5, n.new_sh
            FROM o FULL OUTER JOIN n ON o.url = n.url
        )
        SELECT url,
               CASE WHEN old_md5 IS NULL THEN 'added'
                    WHEN new_md5 IS NULL THEN 'removed'
                    WHEN old_md5 = new_md5 THEN 'unchanged'
                    WHEN bit_count(xor(old_sh, new_sh)) <= {minor_max}
                        THEN 'minor_edit'
                    ELSE 'rewrite' END AS status,
               CASE WHEN old_md5 IS NOT NULL AND new_md5 IS NOT NULL
                         AND old_md5 != new_md5
                    THEN CAST(bit_count(xor(old_sh, new_sh)) AS BIGINT)
               END AS hamming
        FROM j
        ORDER BY url
    """


ORACLES["crawl_delta_near"] = _crawl_delta_near_oracle()


def q_declared_lang_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-corpus language audit (r5, dataops/htmlmeta.py
    declared_lang): fixture pages cycle five lang-attribute spellings —
    region-tagged (en-US-style built from the corpus label), bare
    UPPERCASE, malformed underscore (fr_FR form), script-tagged
    (zh-Hant form), and MISSING — and a fifth of the labeled pages lie
    (declare 'de' whatever the corpus says).  The audit normalizes to
    the primary subtag and reports agreement with the corpus label;
    NULL attribute rows agree with nothing (NULL agrees flag).
    Closed-form oracle."""
    from open_ocr_spark.dataops.htmlmeta import declared_lang

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    lie = d % 5 == 0
    decl = F.when(lie, F.lit("de")).otherwise(F.col("lang"))
    attr = (
        F.when(d % 4 == 0, F.concat(decl, F.lit("-XX")))
        .when(d % 4 == 1, F.upper(decl))
        .when(d % 4 == 2, F.concat(decl, F.lit("_YY")))
        .otherwise(F.concat(decl, F.lit("-Hant")))
    )
    html = F.when(
        d % 7 == 6,
        F.lit("<html><body><p>no lang attr</p></body></html>"),
    ).otherwise(
        F.concat(
            F.lit('<html lang="'), attr,
            F.lit('"><body><p>x</p></body></html>'),
        )
    )
    url = F.concat(F.lit("https://l.example.com/p/"), d.cast("string"))
    pages = docs.select(url.alias("url"), html.alias("html"),
                        F.col("lang"), "doc_id")
    out = declared_lang(pages)
    return (
        out.join(pages.select("url", "lang", "doc_id"), "url")
        .select(
            "doc_id",
            "lang_attr",
            "lang_primary",
            F.col("lang").alias("corpus_lang"),
            F.when(
                F.col("lang_primary").isNotNull(),
                F.col("lang_primary") == F.col("lang"),
            ).alias("agrees"),
        )
        .orderBy("doc_id")
    )


ORACLES["declared_lang_audit"] = """
        WITH rows AS (
            SELECT doc_id, lang,
                   CASE WHEN doc_id % 5 = 0 THEN 'de' ELSE lang END AS decl
            FROM documents
        ),
        attrs AS (
            SELECT doc_id, lang,
                   CASE WHEN doc_id % 7 = 6 THEN NULL
                        WHEN doc_id % 4 = 0 THEN decl || '-XX'
                        WHEN doc_id % 4 = 1 THEN upper(decl)
                        WHEN doc_id % 4 = 2 THEN decl || '_YY'
                        ELSE decl || '-Hant'
                   END AS lang_attr,
                   CASE WHEN doc_id % 7 = 6 THEN NULL ELSE decl END
                       AS lang_primary
            FROM rows
        )
        SELECT doc_id, lang_attr, lang_primary,
               lang AS corpus_lang,
               CASE WHEN lang_primary IS NOT NULL
                    THEN lang_primary = lang END AS agrees
        FROM attrs
        ORDER BY doc_id
    """


def q_pagination_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination collapse (r5, dataops/links.py pagination_first_page):
    docs form rel=prev chains of length 6 (doc d links to d-1 unless
    d%6==0, which is its own first page), with RELATIVE prev hrefs; the
    pointer doubling must land every page on its sequence's first page
    with the exact 0-based page index.  Closed-form oracle: first_page =
    doc d - d%6, page_idx = d%6."""
    from open_ocr_spark.dataops.links import pagination_first_page

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(F.lit("https://m.example.com/a/"), d.cast("string"))
    html = F.when(
        d % 6 == 0,
        F.lit("<html><body><p>first page</p></body></html>"),
    ).otherwise(
        F.concat(
            F.lit('<html><head><link rel="prev" href="/a/'),
            (d - 1).cast("string"),
            F.lit('"></head><body><p>page</p></body></html>'),
        )
    )
    pages = docs.select(url.alias("url"), html.alias("html"))
    return pagination_first_page(pages).orderBy("url")


ORACLES["pagination_chains"] = """
        SELECT 'https://m.example.com/a/' || doc_id::VARCHAR AS url,
               'https://m.example.com/a/'
                   || (doc_id - doc_id % 6)::VARCHAR AS first_page,
               CAST(doc_id % 6 AS BIGINT) AS page_idx,
               FALSE AS looped
        FROM documents
        ORDER BY url
    """


def q_microdata_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema.org microdata extraction (r5, kernels/microdata.py): each
    page carries an Article (multi-token itemprop, nested Person item,
    <time datetime>) and a sibling Product (meta content, img src,
    nested Offer with <data value>) — every value-resolution rule and
    the dotted nested-item flattening land in one closed-form oracle."""
    from open_ocr_spark.kernels.microdata import microdata_items

    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><body><article itemscope '
              'itemtype="https://schema.org/Article">'
              '<h1 itemprop="headline name">Story '), i, F.lit(' café</h1>'
              '<div itemprop="author" itemscope '
              'itemtype="https://schema.org/Person">'
              '<span itemprop="name">Author '),
        (F.col("doc_id") % 3).cast("string"),
        F.lit('</span></div><time itemprop="datePublished" datetime='
              '"2024-03-'),
        F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        F.lit('">in March</time></article><div itemscope '
              'itemtype="https://schema.org/Product">'
              '<meta itemprop="name" content="Widget '),
        (F.col("doc_id") % 11).cast("string"),
        F.lit('"><img itemprop="image" src="/img/'),
        (F.col("doc_id") % 11).cast("string"),
        F.lit('.png"><div itemprop="offers" itemscope '
              'itemtype="https://schema.org/Offer">'
              '<data itemprop="price" value="'),
        (F.col("doc_id") % 50).cast("string"),
        F.lit('.40">a price</data></div></div></body></html>'),
    )
    pages = d.select("doc_id", F.encode(html, "utf-8").alias("html"))
    return microdata_items(pages).orderBy("doc_id", "item_ord", "prop")


ORACLES["microdata_items"] = """
        WITH p AS (
            SELECT * FROM (VALUES
                (0, 0, 'https://schema.org/Article', 'headline'),
                (1, 0, 'https://schema.org/Article', 'name'),
                (2, 0, 'https://schema.org/Article', 'author.name'),
                (3, 0, 'https://schema.org/Article', 'datePublished'),
                (4, 1, 'https://schema.org/Product', 'name'),
                (5, 1, 'https://schema.org/Product', 'image'),
                (6, 1, 'https://schema.org/Product', 'offers.price')
            ) AS t(seq, item_ord, item_type, prop)
        )
        SELECT d.doc_id,
               p.item_ord,
               p.item_type,
               p.prop,
               CASE p.seq
                   WHEN 0 THEN 'Story ' || d.doc_id::VARCHAR || ' café'
                   WHEN 1 THEN 'Story ' || d.doc_id::VARCHAR || ' café'
                   WHEN 2 THEN 'Author ' || (d.doc_id % 3)::VARCHAR
                   WHEN 3 THEN '2024-03-'
                       || lpad(((d.doc_id % 28) + 1)::VARCHAR, 2, '0')
                   WHEN 4 THEN 'Widget ' || (d.doc_id % 11)::VARCHAR
                   WHEN 5 THEN '/img/' || (d.doc_id % 11)::VARCHAR || '.png'
                   WHEN 6 THEN (d.doc_id % 50)::VARCHAR || '.40'
               END AS value
        FROM documents d, p
        ORDER BY d.doc_id, p.item_ord, p.prop
    """


def q_hreflang_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hreflang variant clustering (r5, dataops/hreflang.py): pages come
    in en/fr/de triples; even-numbered groups declare an x-default (the
    cluster key must follow it), odd groups rely on the min-of-clique
    rule — both cluster_key branches and the lang roll-up in one
    closed-form oracle."""
    from open_ocr_spark.dataops.hreflang import hreflang_clusters

    d = _t(spark, sf_dir, "documents").select("doc_id")
    g = F.expr("doc_id div 3").cast("string")
    lang = F.element_at(
        F.array(F.lit("en"), F.lit("fr"), F.lit("de")),
        (F.col("doc_id") % 3).cast("int") + 1,
    )
    base = "https://ml.example.com/"

    def link(lg):
        return F.concat(
            F.lit(f'<link rel="alternate" hreflang="{lg}" href="{base}{lg}/p'),
            g, F.lit('">'),
        )

    xdef = F.when(
        F.expr("(doc_id div 3) % 2") == 0,
        F.concat(F.lit(f'<link rel="alternate" hreflang="x-default" '
                       f'href="{base}en/p'), g, F.lit('">')),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head>"), link("en"), link("fr"), link("de"), xdef,
        F.lit("</head><body>page</body></html>"),
    )
    url = F.concat(F.lit(base), lang, F.lit("/p"), g)
    pages = d.select(url.alias("url"), html.alias("html_str"))
    return hreflang_clusters(pages).orderBy("url")


ORACLES["hreflang_clusters"] = """
        SELECT 'https://ml.example.com/'
                   || ['en', 'fr', 'de'][(doc_id % 3)::INT + 1]
                   || '/p' || (doc_id // 3)::VARCHAR AS url,
               'https://ml.example.com/'
                   || CASE WHEN (doc_id // 3) % 2 = 0 THEN 'en' ELSE 'de' END
                   || '/p' || (doc_id // 3)::VARCHAR AS cluster_key,
               CAST(3 AS BIGINT) AS n_alternates,
               'de,en,fr' AS langs
        FROM documents
        ORDER BY url
    """


def q_heading_outline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heading outline (r5, dataops/outline.py): six headings per page
    including an h2 BEFORE any h1 (the missing-ancestor branch), two h2
    sections with an h3 each (the ancestor must RESET at the second h2)
    — all paths closed-form."""
    from open_ocr_spark.dataops.outline import heading_outline

    d = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><body><h2>Early "),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("</h2><h1>Doc "), i, F.lit("</h1><p>t</p><h2>Sec "),
        (F.col("doc_id") % 4).cast("string"),
        F.lit("</h2><h3>Sub "),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("</h3><h2>Sec2 "),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("</h2><h3>Sub2 "),
        (F.col("doc_id") % 2).cast("string"),
        F.lit("</h3></body></html>"),
    )
    url = F.concat(F.lit("https://o.example.com/d/"), i)
    pages = d.select(url.alias("url"), html.alias("html_str"), "doc_id")
    return (
        heading_outline(pages)
        .join(pages.select("url", "doc_id"), "url")
        .select("doc_id", "heading_idx", "level", "title", "path")
        .orderBy("doc_id", "heading_idx")
    )


ORACLES["heading_outline"] = """
        WITH h AS (SELECT unnest([0, 1, 2, 3, 4, 5]) AS heading_idx)
        SELECT d.doc_id,
               h.heading_idx,
               CASE h.heading_idx
                   WHEN 0 THEN 2 WHEN 1 THEN 1 WHEN 2 THEN 2
                   WHEN 3 THEN 3 WHEN 4 THEN 2 WHEN 5 THEN 3
               END AS level,
               CASE h.heading_idx
                   WHEN 0 THEN 'Early ' || (d.doc_id % 3)::VARCHAR
                   WHEN 1 THEN 'Doc ' || d.doc_id::VARCHAR
                   WHEN 2 THEN 'Sec ' || (d.doc_id % 4)::VARCHAR
                   WHEN 3 THEN 'Sub ' || (d.doc_id % 3)::VARCHAR
                   WHEN 4 THEN 'Sec2 ' || (d.doc_id % 5)::VARCHAR
                   WHEN 5 THEN 'Sub2 ' || (d.doc_id % 2)::VARCHAR
               END AS title,
               CASE h.heading_idx
                   WHEN 0 THEN 'Early ' || (d.doc_id % 3)::VARCHAR
                   WHEN 1 THEN 'Doc ' || d.doc_id::VARCHAR
                   WHEN 2 THEN 'Doc ' || d.doc_id::VARCHAR
                       || ' > Sec ' || (d.doc_id % 4)::VARCHAR
                   WHEN 3 THEN 'Doc ' || d.doc_id::VARCHAR
                       || ' > Sec ' || (d.doc_id % 4)::VARCHAR
                       || ' > Sub ' || (d.doc_id % 3)::VARCHAR
                   WHEN 4 THEN 'Doc ' || d.doc_id::VARCHAR
                       || ' > Sec2 ' || (d.doc_id % 5)::VARCHAR
                   WHEN 5 THEN 'Doc ' || d.doc_id::VARCHAR
                       || ' > Sec2 ' || (d.doc_id % 5)::VARCHAR
                       || ' > Sub2 ' || (d.doc_id % 2)::VARCHAR
               END AS path
        FROM documents d, h
        ORDER BY d.doc_id, h.heading_idx
    """


def q_host_template_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level template-line removal (r5, dataops/templates.py):
    8 synthetic hosts; every page of a host shares a nav line and a
    copyright line (removed), half the host's pages share a promo line
    (the exact >=1/2 fraction boundary), a third share a subscribe
    line (below the fraction -> kept), and each page has a unique body
    line plus an empty line (always kept). Evidence keyed on
    (host, md5(line)); both engines replay the same integer-threshold
    rule, so boundary arithmetic is value-hashed."""
    from open_ocr_spark.dataops.templates import strip_template_lines

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    host = F.concat(F.lit("h"), (F.col("doc_id") % 8).cast("string"))
    page = F.concat(
        F.lit("HOME | ABOUT | CONTACT "), host, F.lit("\n"),
        F.when(
            F.col("doc_id") % 16 == F.col("doc_id") % 8,
            F.concat(F.lit("Promo banner "), host, F.lit("\n")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit("Subscribe to our newsletter\n"),
        ).otherwise(F.lit("")),
        F.lit("Doc "), F.col("doc_id").cast("string"), F.lit(" body: "),
        F.substring("text", 1, 40), F.lit("\n\n(c) 2024 example "), host,
    )
    src = d.select(host.alias("host"), "doc_id", page.alias("text"))
    return strip_template_lines(src).orderBy("doc_id")


def _host_template_lines_oracle() -> str:
    from open_ocr_spark.dataops.templates import (
        strip_template_lines_oracle_sql,
    )

    return strip_template_lines_oracle_sql(
        "SELECT 'h' || (doc_id % 8)::VARCHAR AS host, doc_id,"
        " 'HOME | ABOUT | CONTACT h' || (doc_id % 8)::VARCHAR || chr(10)"
        " || CASE WHEN doc_id % 16 = doc_id % 8"
        "         THEN 'Promo banner h' || (doc_id % 8)::VARCHAR || chr(10)"
        "         ELSE '' END"
        " || CASE WHEN doc_id % 3 = 0"
        "         THEN 'Subscribe to our newsletter' || chr(10)"
        "         ELSE '' END"
        " || 'Doc ' || doc_id::VARCHAR || ' body: '"
        " || substr(coalesce(text, ''), 1, 40)"
        " || chr(10) || chr(10) || '(c) 2024 example h'"
        " || (doc_id % 8)::VARCHAR AS text"
        " FROM documents"
    )


ORACLES["host_template_lines"] = _host_template_lines_oracle()


def q_host_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS hubs & authorities over the same deterministic
    host graph as ``host_pagerank`` (r5, dataops/hits.py): 3 rounds of
    the mutual hub/authority recursion in scaled integer arithmetic
    with an integer renormalization divisor per half-step, so the
    oracle value-hashes both scores from 6 unrolled SQL half-steps —
    any drift in edge direction, the divisor rule, or the rebase onto
    the node set fails the hash."""
    from open_ocr_spark.dataops.hits import hits_int
    from open_ocr_spark.dataops.links import extract_links, host_edges

    docs = _t(spark, sf_dir, "documents")
    edges = host_edges(extract_links(_link_pages(docs))).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    return (
        hits_int(edges, iterations=3)
        .select(F.col("node").alias("host"), "hub", "authority")
        .orderBy("host")
    )


ORACLES["host_hits"] = """
        WITH es AS (
            SELECT DISTINCT 'h' || (doc_id % 20)::VARCHAR
                       || '.example.com' AS src,
                   'h' || ((doc_id * 7 + 1) % 20)::VARCHAR
                       || '.example.com' AS dst
            FROM documents
            UNION
            SELECT DISTINCT 'h' || (doc_id % 20)::VARCHAR || '.example.com',
                   'h' || ((doc_id * 3 + 2) % 20)::VARCHAR || '.example.com'
            FROM documents
            UNION
            SELECT DISTINCT 'h' || (doc_id % 20)::VARCHAR || '.example.com',
                   'h' || ((doc_id * 11 + 5) % 20)::VARCHAR || '.example.com'
            FROM documents
        ),
        nodes AS (SELECT src AS n FROM es UNION SELECT dst FROM es),
        h0 AS (SELECT n, CAST(1000000000 AS BIGINT) AS hub FROM nodes),
        a1r AS (SELECT e.dst AS n, sum(h.hub) AS raw
                FROM es e JOIN h0 h ON h.n = e.src GROUP BY e.dst),
        a1 AS (SELECT n.n, CAST(coalesce(r.raw, 0)
                   // greatest(1, (SELECT max(raw) FROM a1r) // 1000000000)
                   AS BIGINT) AS authority
               FROM nodes n LEFT JOIN a1r r ON r.n = n.n),
        h1r AS (SELECT e.src AS n, sum(a.authority) AS raw
                FROM es e JOIN a1 a ON a.n = e.dst GROUP BY e.src),
        h1 AS (SELECT n.n, CAST(coalesce(r.raw, 0)
                   // greatest(1, (SELECT max(raw) FROM h1r) // 1000000000)
                   AS BIGINT) AS hub
               FROM nodes n LEFT JOIN h1r r ON r.n = n.n),
        a2r AS (SELECT e.dst AS n, sum(h.hub) AS raw
                FROM es e JOIN h1 h ON h.n = e.src GROUP BY e.dst),
        a2 AS (SELECT n.n, CAST(coalesce(r.raw, 0)
                   // greatest(1, (SELECT max(raw) FROM a2r) // 1000000000)
                   AS BIGINT) AS authority
               FROM nodes n LEFT JOIN a2r r ON r.n = n.n),
        h2r AS (SELECT e.src AS n, sum(a.authority) AS raw
                FROM es e JOIN a2 a ON a.n = e.dst GROUP BY e.src),
        h2 AS (SELECT n.n, CAST(coalesce(r.raw, 0)
                   // greatest(1, (SELECT max(raw) FROM h2r) // 1000000000)
                   AS BIGINT) AS hub
               FROM nodes n LEFT JOIN h2r r ON r.n = n.n),
        a3r AS (SELECT e.dst AS n, sum(h.hub) AS raw
                FROM es e JOIN h2 h ON h.n = e.src GROUP BY e.dst),
        a3 AS (SELECT n.n, CAST(coalesce(r.raw, 0)
                   // greatest(1, (SELECT max(raw) FROM a3r) // 1000000000)
                   AS BIGINT) AS authority
               FROM nodes n LEFT JOIN a3r r ON r.n = n.n),
        h3r AS (SELECT e.src AS n, sum(a.authority) AS raw
                FROM es e JOIN a3 a ON a.n = e.dst GROUP BY e.src),
        h3 AS (SELECT n.n, CAST(coalesce(r.raw, 0)
                   // greatest(1, (SELECT max(raw) FROM h3r) // 1000000000)
                   AS BIGINT) AS hub
               FROM nodes n LEFT JOIN h3r r ON r.n = n.n)
        SELECT h3.n AS host, h3.hub, a3.authority
        FROM h3 JOIN a3 ON a3.n = h3.n
        ORDER BY host
    """


def q_noindex_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-level indexing directives (r5, dataops/robots.py
    index_directives): six fixture classes cover both meta attribute
    orders, case folding, the X-Robots-Tag header, meta+header union,
    the ``none`` shorthand, and the no-directive default — the oracle
    states the expected verdict per class in closed form while the
    Spark side parses real HTML/header text."""
    from open_ocr_spark.dataops.robots import index_directives

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m = F.col("doc_id") % 6
    html = F.concat(
        F.lit("<html><head><title>t</title>"),
        F.when(m == 0, F.lit(
            '<meta name="robots" content="noindex, nofollow">'))
        .when(m == 1, F.lit("<meta content='NOINDEX' name=robots>"))
        .when(m == 3, F.lit('<meta name=robots content="noindex">'))
        .otherwise(F.lit("<meta name=viewport content=width-device>")),
        F.lit("</head><body>p</body></html>"),
    )
    headers = F.when(
        m == 2, F.lit("Content-Type: text/html\r\n"
                      "X-Robots-Tag: noarchive, nofollow\r\n")
    ).when(m == 3, F.lit("X-Robots-Tag: NOFOLLOW\r\n")) \
     .when(m == 4, F.lit("x-robots-tag: none\r\n")) \
     .otherwise(F.lit("Content-Type: text/html\r\n"))
    pages = docs.select(
        "doc_id", html.alias("html"), headers.alias("headers")
    )
    return (
        index_directives(pages)
        .select("doc_id", "noindex", "nofollow", "noarchive",
                "from_meta", "from_header")
        .orderBy("doc_id")
    )


ORACLES["noindex_gate"] = """
        SELECT doc_id,
               (doc_id % 6) IN (0, 1, 3, 4) AS noindex,
               (doc_id % 6) IN (0, 2, 3, 4) AS nofollow,
               (doc_id % 6) = 2 AS noarchive,
               (doc_id % 6) IN (0, 1, 3) AS from_meta,
               (doc_id % 6) IN (2, 3, 4) AS from_header
        FROM documents
        ORDER BY doc_id
    """


def q_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive revisit scheduling (r5, dataops/delta.py
    recrawl_schedule) composed over the crawl_delta fixture: the same
    two synthetic snapshots, plus a per-URL previous interval
    (12/24/48/96 h by doc_id%4, NULL history for doc_id%11==0 rows so
    the base-interval fallback fires) — the oracle replays the
    multiplicative halve/double rule, its floor/cap clamps, the
    tombstone NULL, and the integer priority rank in closed form."""
    from open_ocr_spark.dataops.delta import crawl_delta, recrawl_schedule

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(F.lit("https://h"), (F.col("doc_id") % 20).cast("string"),
                   F.lit(".example.com/p/"), F.col("doc_id").cast("string"))
    old = docs.filter(F.col("doc_id") % 5 != 4).select(
        url.alias("url"),
        F.md5(F.concat(F.lit("v1-"), F.col("doc_id").cast("string")))
        .alias("content_md5"),
    )
    new = docs.filter(F.col("doc_id") % 5 != 3).select(
        url.alias("url"),
        F.md5(
            F.concat(
                F.when(F.col("doc_id") % 7 == 0, F.lit("v2-"))
                .otherwise(F.lit("v1-")),
                F.col("doc_id").cast("string"),
            )
        ).alias("content_md5"),
    )
    history = docs.select(
        url.alias("url"),
        F.when(F.col("doc_id") % 11 == 0, F.lit(None).cast("long"))
        .otherwise(F.expr("shiftleft(12L, CAST(doc_id % 4 AS INT))"))
        .alias("prev_interval_h"),
    )
    delta = crawl_delta(old, new).join(history, "url", "left")
    return recrawl_schedule(delta, min_interval_h=12).orderBy("url")


ORACLES["recrawl_schedule"] = """
        WITH d AS (
            SELECT doc_id,
                   'https://h' || (doc_id % 20)::VARCHAR
                       || '.example.com/p/' || doc_id::VARCHAR AS url,
                   CASE WHEN doc_id % 5 = 4 THEN 'added'
                        WHEN doc_id % 5 = 3 THEN 'removed'
                        WHEN doc_id % 7 = 0 THEN 'changed'
                        ELSE 'unchanged' END AS status,
                   CASE WHEN doc_id % 11 = 0 THEN 24
                        ELSE 12 * (1 << (doc_id % 4)::INT) END AS prev
            FROM documents
        )
        SELECT url,
               status,
               CAST(CASE status
                   WHEN 'removed' THEN NULL
                   WHEN 'changed' THEN greatest(12, prev // 2)
                   WHEN 'unchanged' THEN least(720, prev * 2)
                   ELSE 24 END AS BIGINT) AS next_interval_h,
               CAST(CASE WHEN status = 'removed' THEN 0
                    ELSE 720 // (CASE status
                        WHEN 'changed' THEN greatest(12, prev // 2)
                        WHEN 'unchanged' THEN least(720, prev * 2)
                        ELSE 24 END)
               END AS BIGINT) AS priority
        FROM d
        ORDER BY url
    """
