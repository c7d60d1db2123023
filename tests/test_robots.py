"""robots.txt parsing + URL gating: group attribution, agent matching,
wildcards/anchors, precedence, and the default-allow paths."""

from open_ocr_spark.dataops.robots import (
    _pattern_to_regex,
    gate_urls,
    parse_robots,
    parse_robots_rules,
)

ROBOTS = """\
# comment-only line
User-agent: googlebot
Disallow: /google-only

User-agent: crawler
User-agent: *
Disallow: /private
Allow: /private/ok
Disallow: /cgi/*.cgi$
Disallow:
Crawl-delay: 10

User-agent: badbot
Disallow: /
"""


def test_parse_groups_and_agents():
    star = parse_robots_rules(ROBOTS, "*")
    assert star == [
        ("/private", False),
        ("/private/ok", True),
        ("/cgi/*.cgi$", False),
    ]
    # a named agent collects its own group; 'crawler' shares the '*'
    # group because both tokens head the same rule block
    assert parse_robots_rules(ROBOTS, "googlebot") == [
        ("/google-only", False)
    ] + star
    assert parse_robots_rules(ROBOTS, "CRAWLER") == star  # case-insensitive
    assert ("/", False) in parse_robots_rules(ROBOTS, "badbot")
    # empty Disallow and unknown fields are no-ops (no crash, no rule)
    assert all(p for p, _ in star)


def test_pattern_regex_wildcard_and_anchor():
    import re

    rx = _pattern_to_regex("/cgi/*.cgi$")
    assert re.search(rx, "/cgi/a/b.cgi")
    assert not re.search(rx, "/cgi/a.cgi?x")  # $ anchors the end
    assert re.search(_pattern_to_regex("/a+b"), "/a+b")  # literal '+'
    assert not re.search(_pattern_to_regex("/a+b"), "/aab")
    assert re.search(_pattern_to_regex("/exact$"), "/exact")
    assert not re.search(_pattern_to_regex("/exact$"), "/exactly")


def _gate(spark, robots_rows, urls):
    robots = spark.createDataFrame(
        robots_rows, "host string, robots_txt string"
    )
    u = spark.createDataFrame([(x,) for x in urls], "url string")
    out = gate_urls(u, parse_robots(robots))
    return {r["url"]: r["allowed"] for r in out.collect()}

def test_gate_verdicts(spark):
    got = _gate(
        spark,
        [("ex.com", ROBOTS), ("empty.com", "User-agent: *\n")],
        [
            "https://ex.com/private/x",      # prefix disallow
            "https://ex.com/private/ok/y",   # longer Allow overrides
            "https://ex.com/cgi/run.cgi",    # wildcard + anchor
            "https://ex.com/public",         # no rule matches
            "https://ex.com/",               # root, no rule
            "https://empty.com/anything",    # rule-less robots
            "https://norobots.com/a",        # host without robots row
        ],
    )
    assert got == {
        "https://ex.com/private/x": False,
        "https://ex.com/private/ok/y": True,
        "https://ex.com/cgi/run.cgi": False,
        "https://ex.com/public": True,
        "https://ex.com/": True,
        "https://empty.com/anything": True,
        "https://norobots.com/a": True,
    }


def test_gate_tie_prefers_allow(spark):
    txt = "User-agent: *\nDisallow: /abc\nAllow: /ab*\n"  # equal length 4
    got = _gate(spark, [("t.com", txt)], ["https://t.com/abc"])
    assert got == {"https://t.com/abc": True}


def test_gate_query_string_not_part_of_path(spark):
    txt = "User-agent: *\nDisallow: /x$\n"
    got = _gate(
        spark, [("q.com", txt)],
        ["https://q.com/x?utm=1", "https://q.com/xy"],
    )
    # PATH is /x for the first url: the $ anchor applies to the path
    assert got == {
        "https://q.com/x?utm=1": False,
        "https://q.com/xy": True,
    }


# --- Crawl-delay + Sitemap metadata ---------------------------------------------


def test_meta_group_attribution_and_fractional_delay():
    from open_ocr_spark.dataops.robots import parse_robots_meta_txt

    txt = (
        "User-agent: googlebot\nCrawl-delay: 99\nDisallow: /\n\n"
        "User-agent: *\nDisallow: /x\nCrawl-delay: 2.5\n"
        "Crawl-delay: nonsense\n"
        "Sitemap: https://a.com/s1.xml\n"
        "Sitemap: https://a.com/s2.xml # newest\n"
    )
    delay, sitemaps = parse_robots_meta_txt(txt, agent="*")
    assert delay == 2500  # googlebot's 99 must not leak; 2.5s -> ms
    assert sitemaps == ["https://a.com/s1.xml", "https://a.com/s2.xml"]
    # the specific agent sees ITS group's delay
    delay_g, _ = parse_robots_meta_txt(txt, agent="googlebot")
    assert delay_g == 99000


def test_meta_max_delay_wins_and_absent_is_none():
    from open_ocr_spark.dataops.robots import parse_robots_meta_txt

    txt = (
        "User-agent: bot\nUser-agent: *\nCrawl-delay: 1\n\n"
        "User-agent: *\nCrawl-delay: 4\n"
    )
    assert parse_robots_meta_txt(txt)[0] == 4000  # conservative max
    assert parse_robots_meta_txt("User-agent: *\nDisallow: /")[0] is None
    assert parse_robots_meta_txt("")[1] == []


def test_meta_spark_kernel(spark):
    from open_ocr_spark.dataops.robots import parse_robots_meta

    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nCrawl-delay: 1\nSitemap: https://a.com/s.xml"),
         ("b.com", "User-agent: *\nDisallow: /"),
         ("c.com", None)],
        "host string, robots_txt string",
    )
    got = {r.host: (r.crawl_delay_ms, list(r.sitemaps))
           for r in parse_robots_meta(robots).collect()}
    assert got == {"a.com": (1000, ["https://a.com/s.xml"]),
                   "b.com": (None, [])}


# --- page-level indexing directives (r5) ------------------------------------


def test_index_directives_union_and_none(spark):
    import pyspark.sql.functions as F

    from open_ocr_spark.dataops.robots import index_directives

    rows = [
        (0, '<meta name="robots" content="noindex">', "X-Robots-Tag: nofollow\r\n"),
        (1, "<meta content='NONE' name=robots>", ""),
        (2, "<meta name=viewport content=x>", "Content-Type: text/html\r\n"),
        (3, "", "x-robots-tag: NOARCHIVE\r\nX-Robots-Tag: nofollow\r\n"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string, headers string")
    got = {
        r["doc_id"]: (r["noindex"], r["nofollow"], r["noarchive"],
                      r["from_meta"], r["from_header"])
        for r in index_directives(df).collect()
    }
    assert got[0] == (True, True, False, True, True)    # union of sources
    assert got[1] == (True, True, False, True, False)   # none shorthand
    assert got[2] == (False, False, False, False, False)
    assert got[3] == (False, True, True, False, True)   # two header lines


def test_index_directives_is_shuffle_free(spark):
    import pyspark.sql.functions as F

    from open_ocr_spark.dataops.robots import index_directives

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", F.col("text").alias("html"), F.lit("").alias("headers"))
    plan = index_directives(docs)._sc._jvm.PythonSQLUtils.explainString(
        index_directives(docs)._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_index_directives_attribute_variants(spark):
    import pyspark.sql.functions as F

    from open_ocr_spark.dataops.robots import index_directives

    rows = [
        # unquoted content value
        (0, '<meta name="robots" content=noindex>', ""),
        # attribute between name and content
        (1, '<meta name="robots" id="m" content="noindex">', ""),
        # name=robotsx must NOT match
        (2, '<meta name="robotsx" content="noindex">', ""),
        # X-Robots-Tag as a substring of another header name: no match
        (3, "", "My-X-Robots-Tag: noindex\r\n"),
        # first header line (no preceding newline) still anchors
        (4, "", "X-Robots-Tag: noindex\r\nContent-Type: text/html\r\n"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string, headers string")
    got = {r["doc_id"]: r["noindex"] for r in index_directives(df).collect()}
    assert got == {0: True, 1: True, 2: False, 3: False, 4: True}


def test_index_directives_name_boundary_and_cross_tag(spark):
    import pyspark.sql.functions as F

    from open_ocr_spark.dataops.robots import index_directives

    rows = [
        # name that merely STARTS with robots must not match
        (0, '<meta name="robots-custom" content="noindex">', ""),
        # a closed robots tag must not borrow content from a LATER tag
        (1, '<meta name="robots"><meta content="noindex" name="other">', ""),
        # name as the final attribute before > (content-first order)
        (2, '<meta content="noindex" name="robots">', ""),
        # data-name is not the name attribute, in either order
        (3, '<meta data-name="robots" content="noindex">', ""),
        (4, '<meta content="noindex" data-name="robots">', ""),
        # a trailing data-content must not win the greedy attribute scan
        (5, '<meta name="robots" content="index" data-content="noindex">', ""),
        (6, '<meta content="index" data-content="noindex" name="robots">', ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string, headers string")
    got = {r["doc_id"]: r["noindex"] for r in index_directives(df).collect()}
    assert got == {0: False, 1: False, 2: True, 3: False, 4: False,
                   5: False, 6: False}


def test_index_directives_binary_headers(spark):
    from open_ocr_spark.dataops.robots import index_directives

    rows = [
        (0, "<p>x</p>", bytearray(b"X-Robots-Tag: noindex\r\n")),
        (1, "<p>y</p>", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string, headers binary")
    got = {
        r["doc_id"]: (r["noindex"], r["from_header"])
        for r in index_directives(df).collect()
    }
    assert got == {0: (True, True), 1: (False, False)}
