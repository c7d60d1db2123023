"""Published web-corpus quality gates as declarative Catalyst plans:

- ``gopher_gate``: the document-level repetition-free subset of the
  Gopher rules (Rae et al. 2021, "Scaling Language Models", table A1 —
  word-count bounds, mean word length, symbol-to-word ratio, bullet /
  ellipsis line fractions, alphabetic-word fraction, stop-word
  presence), emitted as per-rule booleans plus the integer evidence
  columns so a pipeline can audit WHY a page dropped.
- ``c4_clean``: the C4 line-level cleaner (Raffel et al. 2020, §2.2) —
  keep lines that end in terminal punctuation, have >= 5 words, and do
  not mention javascript; drop pages with a curly brace, the string
  "lorem ipsum", or fewer than 3 sentences after cleaning.

Both are pure projections (split / filter / transform higher-order
functions + integer counters): zero shuffles, whole-stage codegen, and
every gate compares integers — `symbols*10 <= words` instead of a
float ratio — so results hash-identically across engines and
parallelism levels.  The repetition-based Gopher rules (duplicate
n-gram fractions, top-token share) already live in
``textstats.repetition_stats``; this module holds the single-pass
per-document rules.

Reference parity note: the reference engine gates documents only by
payload validity (tleyden/open-ocr ocr_request.go); corpus-quality
gating is part of this repo's training-data surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_ocr_spark.dataops.words import words

# Gopher's stop-word set: a document must contain >= 2 of these
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

_TERMINAL = (".", "!", "?", '"')


def _occurrences(t, needle: str):
    """Occurrence count of a literal substring, by length difference."""
    return (
        F.length(t) - F.length(F.replace(t, F.lit(needle), F.lit("")))
    ) / len(needle)


def gopher_gate(
    docs: DataFrame,
    text: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Per-document Gopher rule flags + keep verdict.

    Output adds: n_words, n_word_chars, n_alpha_words, n_stop_hits,
    n_symbol_marks, n_lines, n_bullet_lines, n_ellipsis_lines,
    rule_* booleans, keep.
    """
    t = F.coalesce(F.col(text), F.lit(""))
    toks = words(t)
    n_words = F.size(toks).cast("long")
    n_word_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_alpha_words = F.size(
        F.filter(toks, lambda w: w.rlike("[A-Za-z]"))
    ).cast("long")
    words_lc = F.transform(toks, F.lower)
    n_stop_hits = sum(
        (
            F.array_contains(words_lc, sw).cast("long")
            for sw in GOPHER_STOPWORDS
        ),
        F.lit(0).cast("long"),
    )
    n_symbol_marks = (
        _occurrences(t, "#") + _occurrences(t, "...") + _occurrences(t, "…")
    ).cast("long")
    # lambda, not bare F.trim: trim(col, trim=...) is binary in Spark 4,
    # so transform would feed it the element INDEX as the trim set
    lines = F.transform(F.split(t, "\n"), lambda s: F.trim(s))
    n_lines = F.size(lines).cast("long")
    n_bullet_lines = F.size(
        F.filter(
            lines,
            lambda s: F.left(s, F.lit(1)).isin("-", "*", "•", "●", "▪"),
        )
    ).cast("long")
    n_ellipsis_lines = F.size(
        F.filter(
            lines,
            lambda s: F.right(s, F.lit(3)).eqNullSafe("...")
            | F.right(s, F.lit(1)).eqNullSafe("…"),
        )
    ).cast("long")

    out = (
        docs.withColumn("n_words", n_words)
        .withColumn("n_word_chars", n_word_chars)
        .withColumn("n_alpha_words", n_alpha_words)
        .withColumn("n_stop_hits", n_stop_hits)
        .withColumn("n_symbol_marks", n_symbol_marks)
        .withColumn("n_lines", n_lines)
        .withColumn("n_bullet_lines", n_bullet_lines)
        .withColumn("n_ellipsis_lines", n_ellipsis_lines)
    )
    c = F.col
    rules = {
        # 50 <= words <= 100000
        "rule_word_count": (c("n_words") >= min_words)
        & (c("n_words") <= max_words),
        # 3 <= mean word length <= 10, integer-exact
        "rule_mean_word_len": (c("n_word_chars") >= 3 * c("n_words"))
        & (c("n_word_chars") <= 10 * c("n_words")),
        # (# + ellipsis) to word ratio <= 0.1
        "rule_symbol_ratio": c("n_symbol_marks") * 10 <= c("n_words"),
        # < 90% of lines start with a bullet
        "rule_bullet_lines": c("n_bullet_lines") * 10 <= 9 * c("n_lines"),
        # < 30% of lines end with an ellipsis
        "rule_ellipsis_lines": c("n_ellipsis_lines") * 10
        <= 3 * c("n_lines"),
        # >= 80% of words contain an alphabetic character
        "rule_alpha_words": c("n_alpha_words") * 5 >= 4 * c("n_words"),
        # >= 2 of the 8 Gopher stop words appear
        "rule_stop_words": c("n_stop_hits") >= 2,
    }
    keep = F.lit(True)
    for name, expr in rules.items():
        out = out.withColumn(name, expr)
        keep = keep & F.col(name)
    return out.withColumn("keep", keep)


def c4_clean(docs: DataFrame, text: str = "text") -> DataFrame:
    """C4 line-level cleaning + page-level gates.

    Output adds: text_clean (kept lines joined with newline),
    n_lines_kept, n_sentences, has_brace, has_lorem, keep.
    """
    t = F.coalesce(F.col(text), F.lit(""))
    # lambda, not bare F.trim (binary in Spark 4; see gopher_gate)
    lines = F.transform(F.split(t, "\n"), lambda s: F.trim(s))
    kept = F.filter(
        lines,
        lambda s: F.right(s, F.lit(1)).isin(*_TERMINAL)
        & (F.size(words(s)) >= 5)
        & ~F.lower(s).contains("javascript"),
    )
    text_clean = F.array_join(kept, "\n")
    n_sentences = (
        F.length(text_clean)
        - F.length(F.regexp_replace(text_clean, r"[.!?]", ""))
    ).cast("long")
    out = (
        docs.withColumn("text_clean", text_clean)
        .withColumn("n_lines_kept", F.size(kept).cast("long"))
        .withColumn("n_sentences", n_sentences)
        .withColumn("has_brace", t.contains("{"))
        .withColumn("has_lorem", F.lower(t).contains("lorem ipsum"))
    )
    return out.withColumn(
        "keep",
        (F.col("n_sentences") >= 3)
        & ~F.col("has_brace")
        & ~F.col("has_lorem"),
    )


# --- phrase-blocklist gate ----------------------------------------------------

def _phrase_regex(phrases: list[str]) -> str:
    """One word-boundary-anchored alternation, case-insensitive, phrases
    regex-escaped; only Java-regex/RE2-shared syntax so a DuckDB oracle
    runs the identical pattern."""
    import re as _re

    if not phrases:
        raise ValueError("phrase_gate: empty blocklist")
    # (?i) is ASCII-only case folding in Java regex but Unicode folding
    # in RE2: a non-ASCII phrase would silently diverge between the
    # Spark plan and the DuckDB oracle, so the contract is ASCII-only —
    # enforced, not documented-and-hoped
    non_ascii = [p for p in phrases if not p.isascii()]
    if non_ascii:
        raise ValueError(
            f"phrase_gate: non-ASCII phrases {non_ascii!r} — (?i) case "
            "folding differs between engines; fold or transliterate first"
        )

    def _anchored(p: str) -> str:
        # \b only exists at a word-char edge: a phrase that starts or
        # ends with punctuation ("(est.)") would never match behind a
        # mandatory boundary, so anchor each edge conditionally
        pre = r"\b" if _re.match(r"\w", p) else ""
        post = r"\b" if _re.search(r"\w$", p) else ""
        return pre + _re.escape(p) + post

    alts = "|".join(
        _anchored(p) for p in sorted(phrases, key=len, reverse=True)
    )
    return rf"(?i)(?:{alts})"


def phrase_gate(
    docs: DataFrame,
    phrases: list[str],
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_hits, blocked): the blocklist-phrase filter every
    published web corpus applies (C4 drops pages containing any entry of
    a bad-phrase list, Raffel et al. 2020 §2.2; the list here is a
    caller parameter).  Longest-first alternation so overlapping
    phrases count like a scanner would; word boundaries stop
    "class" matching inside "classic".

    For list sizes that fit one compiled regex (thousands), this is a
    single codegen'd projection — zero shuffles, zero Python, the
    pattern ships inside the plan. Past that, the same contract would
    move to an Aho-Corasick pandas_udf; this form is the oracle-exact
    tier."""
    pat = _phrase_regex(phrases)
    t = F.coalesce(F.col(text), F.lit(""))
    n = F.size(F.regexp_extract_all(t, F.lit(pat), 0))
    return docs.select(
        id_col,
        n.cast("long").alias("n_hits"),
        (n > 0).alias("blocked"),
    )


# --- soft-404 detection -------------------------------------------------------------

# Title phrases that mark an HTTP-200 page as a disguised error page.
# (?i) case-fold; the list is the frozen policy, extendable per corpus.
_SOFT404_TITLE_RE = (
    "(?i)(page not found|404 not found|404 error|does not exist"
    "|no longer available|page unavailable)"
)

_SOFT404_THIN_CHARS = 32  # a 200 with less text than this is suspect


def soft_404_gate(
    pages: DataFrame,
    url_col: str = "url",
    status_col: str = "status",
    title_col: str = "title",
    text_col: str = "text",
) -> DataFrame:
    """(url, status, is_soft_404, reason): flag HTTP-200 captures that
    are error pages in disguise — CDNs and CMSes routinely serve their
    not-found page with a 200, and an unfiltered crawl fills the corpus
    with thousands of near-identical "Page not found" documents.

    Frozen rule: status 200 AND (title matches the error-phrase list ->
    reason 'title', else trimmed text shorter than 32 chars -> reason
    'thin').  Non-200 rows and healthy 200s pass with is_soft_404 false
    and a NULL reason.  Pure Catalyst projection — the gate adds zero
    shuffles to an ingest plan."""
    title_hit = F.coalesce(F.col(title_col), F.lit("")).rlike(
        _SOFT404_TITLE_RE
    )
    thin = (
        F.length(F.trim(F.coalesce(F.col(text_col), F.lit(""))))
        < _SOFT404_THIN_CHARS
    )
    is200 = F.col(status_col) == 200
    return pages.select(
        F.col(url_col).alias("url"),
        F.col(status_col).cast("int").alias("status"),
        (is200 & (title_hit | thin)).alias("is_soft_404"),
        F.when(is200 & title_hit, F.lit("title"))
        .when(is200 & thin, F.lit("thin"))
        .alias("reason"),
    )
