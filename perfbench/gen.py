"""Seeded workload generator: pages in the ``input_hint`` schema plus goldens.

Every golden comes from what the generator put into the page, never from
running the extraction kernel, so the benchmark's correctness gate is a real
oracle. Two workloads:

- ``crawl-html``    HTML pages sized like real crawl HTML: heavy-tailed
                    sizes (median tens of KB, tail to a few hundred KB), dense
                    in tags; 10% of urls also hold an older crawl and 2% a
                    second crawl at the same timestamp, which the
                    ``xxhash64(html)`` tie-break resolves.
- ``format-mix``    ``open_ocr_spark.fixtures.generate_pages``: the 20-kind
                    fixture mix (HTML, PDF, mail, archives, notebooks, LaTeX,
                    PostScript, subtitles, error rows) with option columns.

A fixed 2% of crawl-html's urls hold an empty payload (a crawl's redirect
or not-modified fetch), so ``error:empty`` rows are part of every run and
the committed error fraction is never zero. Page sizes sit at evenly
spaced quantiles of their distribution and the mixes are exact counts, so
the input bytes are the same for every seed; the seed changes the content
and the order.
"""

from __future__ import annotations

import datetime as dt
import html as _html
import math
import os
import random
import statistics
import struct

WORKLOADS = ("crawl-html", "format-mix")

# urls (format-mix: fixture rows) per workload; SMOKE_SIZE for --smoke runs
FULL_SIZE = {"crawl-html": 600, "format-mix": 12000}
SMOKE_SIZE = {"crawl-html": 60, "format-mix": 200}

INPUT_FILES = 8  # parquet files per input table, fixed so splits stay comparable
EMPTY_FRAC = 0.02
RECRAWL_FRAC = 0.10
TIE_FRAC = 0.02
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


class Workload:
    """One materialisable input: rows in the input_hint schema (plus the
    option columns for format-mix), its goldens keyed by url, and the
    format branch each url's kept payload takes (None: no extractor runs,
    e.g. an empty payload or the mock engine)."""

    def __init__(self, name, rows, golden, branch):
        self.name = name
        self.rows = rows  # list of dicts
        self.golden = golden  # {url: (extracted_text, status)}
        self.branch = branch  # {url: branch name or None}

    @property
    def input_rows(self) -> int:
        return len(self.rows)

    @property
    def html_bytes(self) -> int:
        return sum(len(r["html"]) for r in self.rows)

    def winners(self) -> list[dict]:
        """The row the dedupe keeps per url: newest ``warc_ts``, ties
        broken by the larger ``xxhash64(html)``."""
        best: dict[str, tuple] = {}
        for r in self.rows:
            cur = best.get(r["url"])
            if cur is None or r["warc_ts"] > cur[0]["warc_ts"]:
                best[r["url"]] = (r, None)
            elif r["warc_ts"] == cur[0]["warc_ts"]:
                h_cur = cur[1] if cur[1] is not None else xxhash64(cur[0]["html"])
                h = xxhash64(r["html"])
                best[r["url"]] = (r, h) if h > h_cur else (cur[0], h_cur)
        return [v[0] for v in best.values()]


# --- vocabulary ------------------------------------------------------------


def _make_vocab() -> list[str]:
    """~1500 pseudo-words, fixed (independent of the run seed), with a few
    non-ASCII words and entity-bearing tokens."""
    rng = random.Random(20240101)
    onsets = "b c d f g h j k l m n p r s t v w z br cr dr fl gr pl pr st tr ch sh th".split()
    vowels = "a e i o u ai ea io ou".split()
    codas = ["", "", "n", "r", "s", "t", "l", "nd", "st", "ck"]
    words = set()
    while len(words) < 1500:
        n = rng.choice((1, 1, 2, 2, 3))
        words.add("".join(rng.choice(onsets) + rng.choice(vowels) for _ in range(n))
                  + rng.choice(codas))
    return sorted(words) + ["café", "über", "naïve", "数据", "R&D", "a<b", "\"quoted\""]


_VOCAB = _make_vocab()


def _words(rng: random.Random, n: int) -> list[str]:
    return [rng.choice(_VOCAB) for _ in range(n)]


def _sentence(rng: random.Random, lo: int, hi: int) -> str:
    w = _words(rng, rng.randint(lo, hi))
    w[0] = w[0].capitalize()
    return " ".join(w) + "."


def _esc(s: str) -> str:
    return _html.escape(s, quote=False)


_INLINE = (
    ("<b>", "</b>"),
    ("<em>", "</em>"),
    ("<code>", "</code>"),
    ('<span class="hl">', "</span>"),
)


def _rich_text(rng: random.Random, n_words: int) -> tuple[str, str]:
    """Sentences with inline markup around ~10% of the words. Returns
    (html fragment, golden text); inline tags never split a paragraph."""
    words = rng.choices(_VOCAB, k=n_words)
    for e in range(rng.randint(6, 18) - 1, n_words, 12):
        words[e] += "."
        if e + 1 < n_words:
            words[e + 1] = words[e + 1].capitalize()
    words[0] = words[0].capitalize()
    if not words[-1].endswith("."):
        words[-1] += "."
    golden = " ".join(words)
    # vocabulary words hold no spaces, so the escaped text splits back
    # into one token per word
    out = _esc(golden).split(" ")
    marks = rng.choices(range(6), weights=(90, 4, 2, 1, 1, 2), k=n_words)
    for i, m in enumerate(marks):
        if m == 1:
            out[i] = f'<a href="/wiki/{i}" title="see">{out[i]}</a>'
        elif m:
            o, c = _INLINE[m - 2]
            out[i] = o + out[i] + c
    # occasional source line breaks: whitespace the extractor collapses
    for i in range(22, n_words, 23):
        out[i] += "\n     "
    return " ".join(out), golden


# --- crawl-like HTML page --------------------------------------------------


def _links(rng: random.Random, n: int, prefix: str, icon: bool = False) -> str:
    svg = ('<svg viewBox="0 0 16 16" aria-hidden="true"><path d="M1 1h14v14H1z"/>'
           "</svg>") if icon else ""
    return "".join(
        f'<li class="item item-{i}"><a href="/{prefix}/{rng.randrange(10**6)}" '
        f'data-track="{prefix}-{i}">{svg}{_esc(" ".join(_words(rng, rng.randint(1, 3))))}</a></li>'
        for i in range(n)
    )


def crawl_page(rng: random.Random, target: int, ident: str) -> tuple[bytes, str]:
    """A page of about ``target`` bytes: head with meta/script/style, a
    header with nav, one <article> of main content, a link sidebar and a
    link-farm footer. Returns (html bytes, golden main text)."""
    title = _sentence(rng, 4, 9)
    scale = max(1, target // 8000)
    head = (
        '<!DOCTYPE html><html lang="en"><head><meta charset="utf-8">'
        f"<title>{_esc(title)}</title>"
        + "".join(f'<meta name="m{i}" content="{rng.randrange(10**9)}">' for i in range(6))
        + "".join(f'<link rel="stylesheet" href="/c/{i}.css">' for i in range(3))
        + "<script>window.dataLayer=[];"
        + "".join(f"function f{i}(a){{return a*{i}+1;}}" for i in range(20 * scale))
        + "</script><style>"
        + "".join(f".c{i}{{margin:{i}px;color:#{i:03x}}}" for i in range(15 * scale))
        + "</style></head>"
    )
    header = (
        '<body class="page"><div id="page" class="wrap">'
        '<header class="site-header"><div class="logo"><a href="/">Home</a></div>'
        f'<nav class="main-nav"><ul>{_links(rng, 12 + 4 * scale, "s", icon=True)}</ul></nav>'
        '<!-- begin content --></header><div class="content"><main>'
    )
    tail_sidebar = (
        '</main><aside class="sidebar"><h3>Related</h3><ul>'
        + _links(rng, 8 + 3 * scale, "r")
        + '</ul><button type="button">More</button></aside></div>'
    )
    footer = (
        f'<footer><ul>{_links(rng, 10 + 3 * scale, "t")}</ul><p>© 2024</p></footer>'
        '</div><script>f1(2);</script></body></html>'
    )
    paras = [title]
    body = [f'<article class="post"><h1 class="title">{_esc(title)}</h1>']
    author = " ".join(w.capitalize() for w in _words(rng, 2))
    body.append(f'<p class="byline">By <a href="/u/{ident}">{_esc(author)}</a> on 2024-03-01</p>')
    paras.append(f"By {author} on 2024-03-01")
    size = len(head) + len(header) + len(tail_sidebar) + len(footer) + 200
    size += sum(len(b) for b in body)
    while size < target:
        r = rng.random()
        if r < 0.60:
            frag, text = _rich_text(rng, rng.randint(25, 90))
            block = f"<p>{frag}</p>"
        elif r < 0.72:
            text = _sentence(rng, 3, 7)
            block = f'<h2 id="h{rng.randrange(10**6)}">{_esc(text)}</h2>'
        elif r < 0.84:
            items = [_sentence(rng, 4, 12) for _ in range(rng.randint(3, 6))]
            block = "<ul>" + "".join(f"<li>{_esc(x)}</li>" for x in items) + "</ul>"
            paras.extend(items[:-1])
            text = items[-1]
        elif r < 0.90:
            frag, text = _rich_text(rng, rng.randint(15, 40))
            block = f"<blockquote><p>{frag}</p></blockquote>"
        elif r < 0.95:
            text = _sentence(rng, 5, 12)
            block = (f'<figure><img src="/i/{rng.randrange(10**6)}.jpg" alt="x" '
                     f'width="640" height="480"><figcaption>{_esc(text)}</figcaption></figure>')
        else:
            # an in-article related-links box: counted in scoring, pruned
            # from the emitted text
            block = f'<aside class="inline-related"><ul>{_links(rng, 4, "a")}</ul></aside>'
            text = None
        body.append(block)
        if text is not None:
            paras.append(text)
        size += len(block)
    body.append("</article>")
    page = head + header + "".join(body) + tail_sidebar + footer
    return page.encode("utf-8"), "\n\n".join(paras)


def _page_sizes(rng: random.Random, n: int, median: float, sigma: float,
                lo: int, hi: int) -> list[int]:
    """``n`` page sizes at evenly spaced quantiles of a clipped lognormal,
    shuffled: every seed gets the same heavy-tailed size mix, so input
    bytes do not vary from seed to seed."""
    z = statistics.NormalDist(0.0, sigma)
    sizes = [int(min(hi, max(lo, median * math.exp(z.inv_cdf((i + 0.5) / n)))))
             for i in range(n)]
    rng.shuffle(sizes)
    return sizes


def _spread(rng: random.Random, n: int, frac: float) -> set[int]:
    """Exactly ``round(n * frac)`` (at least one) of ``range(n)``."""
    return set(rng.sample(range(n), max(1, round(n * frac))))


# --- Spark-compatible xxhash64 (the dedupe tie-break) -----------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed 64-bit int, as Spark's ``xxhash64``
    column function computes it (seed 42)."""
    n = len(data)
    off = 0
    if n >= 32:
        v1, v2, v3, v4 = ((seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed,
                          (seed - _P1) & _M)
        stripes = n // 32
        lanes = struct.unpack_from(f"<{stripes * 4}Q", data)
        for i in range(0, stripes * 4, 4):
            v1 = _round(v1, lanes[i])
            v2 = _round(v2, lanes[i + 1])
            v3 = _round(v3, lanes[i + 2])
            v4 = _round(v4, lanes[i + 3])
        off = stripes * 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while off + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, off)
        h = (_rotl(h ^ _round(0, k), 27) * _P1 + _P4) & _M
        off += 8
    if off + 4 <= n:
        (k,) = struct.unpack_from("<I", data, off)
        h = (_rotl(h ^ ((k * _P1) & _M), 23) * _P2 + _P3) & _M
        off += 4
    while off < n:
        h = (_rotl(h ^ ((data[off] * _P5) & _M), 11) * _P1) & _M
        off += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


# --- workloads -------------------------------------------------------------


def _row(url, ts, html, text, golden):
    """An input row; ``golden`` is the main text the generator put into
    ``html``, kept beside the columns and never written."""
    return {"url": url, "warc_ts": ts, "html": html, "text": text, "lang": "eng",
            "golden": golden}


def _html_workload(name: str, rows: list[dict]) -> Workload:
    """Goldens of an HTML-only workload: the kept row's text, or
    ``error:empty`` for an empty payload."""
    wl = Workload(name, rows, {}, {})
    for r in wl.winners():
        ok = bool(r["html"])
        wl.golden[r["url"]] = (r["golden"], "ok") if ok else ("", "error:empty")
        wl.branch[r["url"]] = "html" if ok else None
    return wl


def gen_crawl_html(n_urls: int, seed: int) -> Workload:
    rng = random.Random(seed)
    empty = _spread(rng, n_urls, EMPTY_FRAC)
    full = sorted(set(range(n_urls)) - empty)
    recrawled = set(rng.sample(full, round(n_urls * RECRAWL_FRAC)))
    tied = set(rng.sample(full, max(1, round(n_urls * TIE_FRAC))))
    sizes = iter(_page_sizes(rng, len(full) + len(tied), 28000, 0.75, 3000, 400000))
    old_sizes = iter(_page_sizes(rng, len(recrawled), 20000, 0.5, 3000, 100000))
    rows = []
    for i in range(n_urls):
        url = f"https://host{rng.randrange(97):02d}.example.com/p/{seed}/{i}"
        ts = _EPOCH + dt.timedelta(seconds=rng.randrange(10**7))
        if i in empty:
            rows.append(_row(url, ts, b"", "", ""))
            continue
        for _ in range(1 + (i in tied)):
            # a tied url has two crawls at its newest timestamp: the dedupe
            # keeps the one with the larger xxhash64(html)
            html, text = crawl_page(rng, next(sizes), str(i))
            rows.append(_row(url, ts, html, text, text))
        if i in recrawled:
            # an older crawl of the same url with other content: the dedupe
            # must keep the newer snapshot
            old, old_text = crawl_page(rng, next(old_sizes), str(i))
            rows.append(_row(url, ts - dt.timedelta(days=30), old, old_text, old_text))
    rng.shuffle(rows)
    return _html_workload("crawl-html", rows)


# Format branch of each fixture kind (``generate_pages`` picks the kind of
# row ``i`` as ``i % 20``; re-crawled rows are HTML). Kind 2 alternates
# SubRip (``i % 40 == 2``) and WebVTT; kinds 16-19 are the empty, mock,
# unknown-engine and bad-lang rows, on which no extractor runs.
_FIXTURE_BRANCH = {
    1: "ps", 4: "latex", 5: "ipynb", 6: "zip", 7: "targz", 8: "eml",
    15: "pdf", 16: None, 17: None, 18: None, 19: None,
}
BRANCHES = ("html", "pdf", "ps", "latex", "ipynb", "eml", "zip", "targz", "srt", "vtt")


def _fixture_branch(i: int) -> str | None:
    if i % 20 == 2:
        return "srt" if i % 40 == 2 else "vtt"
    return _FIXTURE_BRANCH.get(i % 20, "html")


def gen_format_mix(n_rows: int, seed: int) -> Workload:
    from open_ocr_spark.fixtures import generate_pages

    pages, golden = generate_pages(n_rows, seed)
    return Workload(
        "format-mix",
        pages,
        {g["url"]: (g["extracted_text"], g["status"]) for g in golden},
        {g["url"]: _fixture_branch(int(g["url"].rsplit("/", 1)[1])) for g in golden},
    )


_GENERATORS = {
    "crawl-html": gen_crawl_html,
    "format-mix": gen_format_mix,
}


def generate(name: str, seed: int, smoke: bool = False) -> Workload:
    size = (SMOKE_SIZE if smoke else FULL_SIZE)[name]
    return _GENERATORS[name](size, seed)


def write_parquet(wl: Workload, path: str) -> int:
    """Materialise the input table as ``INPUT_FILES`` snappy parquet files
    under ``path``; returns the bytes written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fields = [
        pa.field("url", pa.string()),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
    if "engine" in wl.rows[0]:
        fields += [
            pa.field("engine", pa.string()),
            pa.field("preprocessors", pa.list_(pa.string())),
            pa.field("preprocessor_args", pa.map_(pa.string(), pa.string())),
        ]
    schema = pa.schema(fields)
    os.makedirs(path, exist_ok=True)
    total = 0
    chunk = -(-len(wl.rows) // INPUT_FILES)
    for f in range(INPUT_FILES):
        part = wl.rows[f * chunk:(f + 1) * chunk]
        if not part:
            break
        cols = {}
        for field in fields:
            vals = [r[field.name] for r in part]
            if field.name == "preprocessor_args":
                vals = [list(v.items()) if v else None for v in vals]
            cols[field.name] = vals
        out = os.path.join(path, f"part-{f:05d}.parquet")
        pq.write_table(pa.table(cols, schema=schema), out, compression="snappy")
        total += os.path.getsize(out)
    return total
