"""robots.txt parsing and URL gating (Robots Exclusion Protocol,
RFC 9309).

A web-corpus engine must honor robots rules both at fetch time and
retroactively (take-down sweeps over an already-collected corpus).  The
reference fetches exactly the URL it is handed (ocr_url_request) and
leaves politeness to the caller; at corpus scale the gate has to be a
relational operator.

Semantics implemented (the RFC 9309 core):
- groups: consecutive ``User-agent:`` lines share the rule block that
  follows; a group applies if any of its agent tokens is ``*`` or
  equals the caller's agent (case-insensitive token match);
- rules: ``Allow``/``Disallow`` with ``*`` (any run) and ``$`` (end
  anchor) wildcards; empty-path rules are no-ops; ``#`` comments and
  unknown fields ignored;
- verdict per URL path: the longest matching pattern wins; on a tie
  Allow wins; no matching rule means allowed (and a host with no
  robots row means allowed).

Scale shape: parsing runs once per HOST (a map_rows kernel over the
tiny robots table — robots files are KBs; the corpus never enters it);
the gate is one equi-join of the corpus on host followed by a per-rule
``rlike`` with the precompiled anchored regex and a max-struct
aggregate (longest-rule-wins is an order-free max, so the join output
reduces map-side).  The rule table is hosts x rules — broadcastable in
any real deployment.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_ocr_spark.pipeline.stages import map_rows

RULE_SCHEMA = (
    "host string, pattern string, rule_regex string, is_allow boolean, "
    "rule_len int"
)


def _pattern_to_regex(pattern: str) -> str:
    """Anchored regex for a robots path pattern: '*' -> any run,
    trailing '$' -> end anchor, everything else literal."""
    anchored_end = pattern.endswith("$")
    body = pattern[:-1] if anchored_end else pattern
    parts = [re.escape(p) for p in body.split("*")]
    return "^" + ".*".join(parts) + ("$" if anchored_end else "")


def parse_robots_rules(txt: str, agent: str = "*"):
    """The (pattern, is_allow) rules applying to `agent` from one
    robots.txt body — pure function, shared by the Spark kernel and
    tests."""
    agent = agent.lower()
    rules: list[tuple[str, bool]] = []
    group_agents: list[str] = []
    in_group_rules = False
    for raw in txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if in_group_rules:
                group_agents = []  # a new group starts
                in_group_rules = False
            group_agents.append(value.lower())
        elif field in ("allow", "disallow"):
            in_group_rules = True
            if not value:
                continue  # empty path: no-op rule
            if "*" in group_agents or agent in group_agents:
                rules.append((value, field == "allow"))
    return rules


def parse_robots(robots: DataFrame, agent: str = "*") -> DataFrame:
    """(host, pattern, rule_regex, is_allow, rule_len): the rule table
    for `agent`, one row per applicable Allow/Disallow rule.  Hosts
    whose robots.txt yields no applicable rules emit no rows (their
    URLs default to allowed)."""

    def rules(host, txt):
        if txt is None:
            return
        for pattern, is_allow in parse_robots_rules(str(txt), agent):
            yield (host, pattern, _pattern_to_regex(pattern), is_allow,
                   len(pattern))

    return map_rows(robots.select("host", "robots_txt"), RULE_SCHEMA, rules)


def gate_urls(
    urls: DataFrame, rules: DataFrame, url_col: str = "url"
) -> DataFrame:
    """(url, allowed): RFC 9309 verdict for every URL against the rule
    table from parse_robots.  Longest matching pattern wins, Allow wins
    ties, no match (or unknown host) means allowed."""
    u = urls.select(
        F.col(url_col).alias("url"),
        F.lower(F.parse_url(F.col(url_col), F.lit("HOST"))).alias("host"),
        F.coalesce(
            F.parse_url(F.col(url_col), F.lit("PATH")), F.lit("/")
        ).alias("path"),
    )
    # left join keeps every URL (rule-less hosts included); the verdict
    # aggregate maxes only over rules whose regex matches the path —
    # max(struct) orders by rule_len then is_allow, so the longest rule
    # wins and Allow wins length ties, exactly RFC 9309's precedence
    matched = (
        u.join(rules, "host", "left")
        .groupBy("url")
        .agg(
            F.max(
                F.when(
                    F.col("rule_regex").isNotNull()
                    & F.expr("path rlike rule_regex"),
                    F.struct("rule_len", "is_allow"),
                )
            ).alias("best")
        )
    )
    return matched.select(
        "url",
        F.coalesce(F.col("best.is_allow"), F.lit(True)).alias("allowed"),
    )


# --- politeness metadata: Crawl-delay + Sitemap --------------------------------

META_SCHEMA = "host string, crawl_delay_ms long, sitemaps array<string>"


def parse_robots_meta_txt(txt: str, agent: str = "*"):
    """(crawl_delay_ms | None, sitemaps) from one robots.txt body.

    Crawl-delay is GROUP-scoped (same group attribution as the rules
    parser above; the most conservative applicable delay wins — max);
    parsed to integer milliseconds so the politeness budget is exact.
    Sitemap is a global field per the sitemaps.org protocol: every
    occurrence anywhere in the file, in file order."""
    agent = agent.lower()
    delays: list[int] = []
    sitemaps: list[str] = []
    group_agents: list[str] = []
    in_group_rules = False
    for raw in txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if in_group_rules:
                group_agents = []
                in_group_rules = False
            group_agents.append(value.lower())
        elif field in ("allow", "disallow"):
            in_group_rules = True
        elif field == "crawl-delay":
            # NOT group-terminating: RFC 9309 §2.2.4 — records other
            # than allow/disallow "MUST NOT interfere with group
            # parsing", and parse_robots_rules above treats this line
            # as an ignorable unknown; the two parsers must attribute
            # groups identically or a crawler combining them fetches
            # under one group's rules at another group's pace
            if "*" in group_agents or agent in group_agents:
                try:
                    delays.append(int(round(float(value) * 1000)))
                except ValueError:
                    pass  # malformed delay: ignore the line, RFC spirit
        elif field == "sitemap" and value:
            sitemaps.append(value)
    return (max(delays) if delays else None, sitemaps)


def parse_robots_meta(robots: DataFrame, agent: str = "*") -> DataFrame:
    """(host, crawl_delay_ms, sitemaps): the per-host politeness budget
    and sitemap seeds the frontier scheduler consumes (dataops/
    frontier.py takes per-host caps; this supplies the host's own
    declared pace).  Same kernel shape as parse_robots: runs once per
    HOST over the tiny robots table, never over the corpus."""

    def meta(host, txt):
        if txt is not None:
            delay, sitemaps = parse_robots_meta_txt(str(txt), agent)
            yield host, delay, sitemaps

    return map_rows(robots.select("host", "robots_txt"), META_SCHEMA, meta)


# --- page-level indexing directives (r5) ------------------------------------
#
# robots.txt governs CRAWLING; whether a fetched page may be INDEXED is
# declared per page, in two places a pipeline must honor together
# (Google's robots-meta documentation; the de-facto standard every
# engine implements): a <meta name="robots" content="..."> tag in the
# HTML head, and an X-Robots-Tag HTTP response header.  Directives from
# both sources UNION (the most restrictive wins per directive), and
# "none" is shorthand for "noindex, nofollow".
#
# Pure Catalyst: regexp_extract_all in the shared Java-regex/RE2 subset
# (no lookbehind, inline (?i) case folding), so the gate is a
# shuffle-free projection that scales as a map over the corpus.

# Attribute order and quoting both vary in the wild: other attributes
# may sit between name and content, and content may be unquoted — four
# patterns (name-first/content-first x quoted/unquoted) cover the
# combinations; \b after "robots" rejects name="robotsx", and the
# whitespace required before name/content rejects data-name and
# data-content (\b would match after the hyphen).
_META_ROBOTS = (
    r'(?i)<meta\b[^>]*\sname\s*=\s*["\']?robots["\']?(?:[\s/][^>]*)?'
    r'\scontent\s*=\s*["\']([^"\'>]*)["\']',
    r'(?i)<meta\b[^>]*\sname\s*=\s*["\']?robots["\']?(?:[\s/][^>]*)?'
    r'\scontent\s*=\s*([^\s"\'>]+)',
    r'(?i)<meta\b[^>]*\scontent\s*=\s*["\']([^"\'>]*)["\'][^>]*'
    r'\sname\s*=\s*["\']?robots["\']?(?:[\s/>]|$)',
    r'(?i)<meta\b[^>]*\scontent\s*=\s*([^\s"\'>]+)[^>]*'
    r'\sname\s*=\s*["\']?robots["\']?(?:[\s/>]|$)',
)
# Line-anchored so 'My-X-Robots-Tag:' or the literal text inside a
# header VALUE cannot fabricate directives. Agent-scoped forms
# ("X-Robots-Tag: googlebot: noindex") tokenize to directives that
# match nothing — out of scope, documented.
_X_ROBOTS_HEADER = r"(?im)^x-robots-tag:\s*([^\r\n]+)"


def index_directives(
    pages: DataFrame,
    html_col: str = "html",
    headers_col: str = "headers",
) -> DataFrame:
    """All original columns plus the combined per-page indexing
    verdict: ``noindex`` / ``nofollow`` / ``noarchive`` booleans and
    ``from_meta`` / ``from_header`` provenance flags.  A directive
    counts when it appears, comma-separated, in any robots meta tag
    (either attribute order) or any X-Robots-Tag header line; ``none``
    implies noindex AND nofollow."""
    html = F.coalesce(F.col(html_col).cast("string"), F.lit(""))
    headers = F.coalesce(F.col(headers_col).cast("string"), F.lit(""))
    metas = F.concat(
        *[F.regexp_extract_all(html, F.lit(p), F.lit(1))
          for p in _META_ROBOTS]
    )
    hdrs = F.regexp_extract_all(headers, F.lit(_X_ROBOTS_HEADER), F.lit(1))

    def _tokens(sources):
        # each source string is a comma-separated directive list; trim +
        # lowercase each token into one flat array
        return F.flatten(
            F.transform(
                sources,
                lambda s: F.transform(
                    F.split(s, ","), lambda t: F.lower(F.trim(t))
                ),
            )
        )

    toks = F.array_union(_tokens(metas), _tokens(hdrs))

    def _has(directive: str):
        return F.array_contains(toks, directive) | F.array_contains(
            toks, "none"
        )

    return pages.select(
        "*",
        _has("noindex").alias("noindex"),
        _has("nofollow").alias("nofollow"),
        F.array_contains(toks, "noarchive").alias("noarchive"),
        (F.size(metas) > 0).alias("from_meta"),
        (F.size(hdrs) > 0).alias("from_header"),
    )
