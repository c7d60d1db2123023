"""RFC 3986 relative-reference resolution, pure Catalyst.

A crawler meets far more relative hrefs than absolute ones; link
extraction without reference resolution silently drops most of the link
graph.  This implements the RFC 3986 §5.2 algorithm (strict mode) for
the crawl case — the BASE is always an absolute http(s) URL with an
authority — as a frozen branch-by-first-character policy:

- ref has a scheme           -> ref verbatim (strict mode: ``http:g``
                                stays ``http:g``, per §5.4.2)
- ref starts ``//``          -> base scheme + ``:`` + ref
- ref starts ``/``           -> origin + remove_dot_segments(ref path)
                                + ref query/fragment
- ref starts ``?``           -> origin + base path + ref
- ref starts ``#``           -> base (incl. query) + ref
- ref == ''                  -> base minus fragment (§5.2.2 last row)
- otherwise (relative path)  -> origin + remove_dot_segments(base dir
                                merged with ref path) + ref qf

Dot-segment removal (§5.2.4) runs as a bounded regex-rewrite chain —
``/./`` collapse, trailing ``/.``, then ``/<seg>/../`` where ``<seg>``
is a RE2-expressible "not exactly ``..``" class, iterated ``_DEPTH``
times, then leading ``/../`` stripping.  The chain uses NO lookaround,
so the SAME patterns run under Spark (Java regex) and DuckDB (RE2): the
oracle is a mechanical re-rendering of the same spec, emitted by
``duckdb_resolve_sql`` from the same pattern constants, and the whole
RFC 3986 §5.4 example table (normal + abnormal) passes verbatim
(tests/test_resolveurl.py).

Bounded policy: ``../`` nesting deeper than ``_DEPTH`` levels resolves
approximately (leftover ``..`` segments survive); real crawl paths are
nowhere near it, and the bound is what keeps the operator a pure
projection — no UDF, no loop, no driver round trip, at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# "any path segment except exactly '..'" without lookaround:
# 3+ chars | 2 chars with a non-dot in either position | 1 non-dot char.
_ND = "(?:[^/]{3,}|[^/.][^/]|[^/][^/.]|[^/.])"

# Max ../ nesting removed exactly.  4 covers the deepest case in RFC
# 3986's own §5.4.2 abnormal-example table (../../../../g) with the
# leading-/../ root cap on top; deeper author-side traversal is
# pathological (the policy leaves its residual ".." segments in place,
# see module header).  The bound is also what keeps the §5.2.4 chain
# small enough that whole-stage codegen of the staged resolver stays
# under Janino's 64 KB method limit when a write sink fuses into the
# stage — a nested regexp chain is ONE expression, so Spark's
# splitExpressions cannot break it up.
_DEPTH = 4

# (pattern, replacement, repeat) — applied in order to a path string.
_DOT_RULES: tuple[tuple[str, str, int], ...] = (
    (r"/\./", "/", 4),          # /a/./b -> /a/b (two passes per overlap)
    (r"/\.$", "/", 1),          # /a/.   -> /a/
    (rf"/{_ND}/\.\./", "/", _DEPTH),   # /a/../ -> /
    (rf"/{_ND}/\.\.$", "/", _DEPTH),   # /a/..  -> /
    (r"^/\.\./", "/", _DEPTH // 2),    # /../a  -> /a (root cap, §5.4.2)
    (r"^/\.\.$", "/", 1),
)

_SCHEME = "^[a-zA-Z][a-zA-Z0-9+.-]*:"
_SCHEME_G = "^([a-zA-Z][a-zA-Z0-9+.-]*):"          # capture the scheme
_ORIGIN_G = "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)"  # capture scheme+auth


def remove_dot_segments(path: Column) -> Column:
    """§5.2.4 over an absolute path ('/'-leading), as the frozen
    regex-rewrite chain.

    Fast path: every dot-segment form (``/./``, ``/../``, trailing
    ``/.``/``/..``, leading ``/..``) contains the 2-char substring
    ``/.``, and absolute paths place ``..``/``.`` only after a slash —
    so paths without ``/.`` skip the ~26-regexp chain entirely (the
    overwhelming majority of real hrefs; CASE branches evaluate lazily
    under codegen).  The DuckDB oracle rendering deliberately does NOT
    mirror the guard: if the guard were ever wrong, the value hash
    would catch it."""
    out = path
    for pat, rep, times in _DOT_RULES:
        for _ in range(times):
            out = F.regexp_replace(out, pat, rep)
    return F.when(path.contains("/."), out).otherwise(path)


def resolve_url(base: Column | str, ref: Column | str) -> Column:
    """The resolved absolute URL of ``ref`` against absolute http(s)
    ``base`` (frozen policy, module header)."""
    b = F.col(base) if isinstance(base, str) else base
    r = F.col(ref) if isinstance(ref, str) else ref
    scheme = F.regexp_extract(b, _SCHEME_G, 1)
    origin = F.regexp_extract(b, _ORIGIN_G, 1)
    bpath = F.regexp_extract(b, _SCHEME + "//[^/?#]*([^?#]*)", 1)
    bdir = F.regexp_replace(bpath, "[^/]*$", "")
    base_pq = F.regexp_replace(b, "#.*$", "")  # §5.2.2 fragment swap
    refpath = F.regexp_extract(r, "^([^?#]*)", 1)
    refqf = F.regexp_extract(r, "([?#].*)$", 1)
    merged = F.when(bpath == "", F.concat(F.lit("/"), refpath)).otherwise(
        F.concat(bdir, refpath)
    )
    return (
        F.when(r.rlike(_SCHEME), r)
        .when(r.startswith("//"), F.concat(scheme, F.lit(":"), r))
        .when(
            r.startswith("/"),
            F.concat(origin, remove_dot_segments(refpath), refqf),
        )
        .when(r.startswith("?"), F.concat(origin, bpath, r))
        .when(r.startswith("#"), F.concat(base_pq, r))
        .when(r == "", base_pq)
        .otherwise(F.concat(origin, remove_dot_segments(merged), refqf))
    )


# --- staged (plan-size-bounded) variant ------------------------------------


def with_resolved(
    df: "DataFrame",
    base_col: str,
    ref_col: str,
    out_col: str = "resolved",
) -> "DataFrame":
    """``df`` plus ``out_col`` = resolve_url(base_col, ref_col) — the SAME
    frozen policy, but staged through real columns so the plan stays
    linear in the policy size.

    Why this exists: ``resolve_url`` is a Column builder, and Column
    builders inline their sub-expressions AT CONSTRUCTION — ``base`` is
    referenced ~6 times inside the policy CASE, so when the base is
    itself a non-trivial expression (e.g. a ``<base href>`` resolved by
    an inner resolve_url) the tree multiplies out:
    the resolved_link_graph plan reached 1,710 regexp_replace + 4,226
    regexp_extract nodes (553 KB optimized plan), all planning/codegen
    overhead and 3× per-row re-evaluation once the http(s) filter
    substituted the alias twice more.

    Staging each intermediate (scheme/origin/bpath/merged/dot-chains) as
    an Alias in its own Project keeps every expensive subtree computed
    ONCE per row: Catalyst's CollapseProject refuses to collapse stacked
    Projects when it would duplicate a non-cheap alias used more than
    once, so the stages survive optimization, and the final CASE is over
    plain attributes — cheap to substitute into downstream filters.
    Measured on the same query: 13.5 s → ~1.5 s warm at sf0.1.

    The per-row semantics are byte-identical to ``resolve_url`` (same
    pattern constants, same branch order); tests assert equality on the
    RFC 3986 §5.4 table, crawl-shaped extras, NULL refs, and a seeded
    combinatorial ref corpus (tests/test_resolveurl.py).
    """
    df = with_base_parts(df, base_col, f"__rs_{out_col}__")
    return resolve_against_parts(
        df, f"__rs_{out_col}__", ref_col, out_col
    )


def with_base_parts(
    df: "DataFrame", base_col: str, prefix: str
) -> "DataFrame":
    """Add the four base-derived columns the resolution CASE consumes
    (``<prefix>scheme/origin/bpath/basepq``).  Callers that EXPLODE a
    per-page href array should apply this BEFORE the explode so the base
    is parsed once per page, with the parts riding the Generate as plain
    attributes — not re-extracted per href."""
    b = F.col(base_col)
    return df.withColumns(
        {
            prefix + "scheme": F.regexp_extract(b, _SCHEME_G, 1),
            prefix + "origin": F.regexp_extract(b, _ORIGIN_G, 1),
            prefix
            + "bpath": F.regexp_extract(
                b, _SCHEME + "//[^/?#]*([^?#]*)", 1
            ),
            prefix + "basepq": F.regexp_replace(b, "#.*$", ""),
        }
    )


def resolve_against_parts(
    df: "DataFrame", prefix: str, ref_col: str, out_col: str
) -> "DataFrame":
    """The ref-side stages of the staged resolver, consuming base parts
    previously added by with_base_parts under ``prefix``.  Drops the
    parts and every ref-side scratch column before returning."""
    p = prefix
    r = F.col(ref_col)
    df = df.withColumns(
        {
            p + "refpath": F.regexp_extract(r, "^([^?#]*)", 1),
            p + "refqf": F.regexp_extract(r, "([?#].*)$", 1),
        }
    )
    bpath = F.col(p + "bpath")
    refpath = F.col(p + "refpath")
    # ONE dot-segment chain, not two: only the absolute-path branch
    # (dots over the ref path) and the relative-path branch (dots over
    # the merged path) ever consume it, and they are mutually exclusive —
    # so select the branch's input FIRST and run the ~26-regex §5.2.4
    # chain once.  Besides halving per-row worst-case work, this keeps
    # the post-explode whole-stage-codegen method under Janino's 64 KB
    # limit when a write sink fuses into the stage (the two-chain form
    # compiled standalone but fell back to interpreted eval under the
    # bench's noop-write consumer).
    is_abs_path = r.startswith("/") & ~r.startswith("//")
    is_relative = (
        ~r.rlike(_SCHEME)
        & ~r.startswith("/")
        & ~r.startswith("?")
        & ~r.startswith("#")
        & (r != "")
    )
    merged = F.when(bpath == "", F.concat(F.lit("/"), refpath)).otherwise(
        F.concat(F.regexp_replace(bpath, "[^/]*$", ""), refpath)
    )
    df = df.withColumns(
        {
            p
            + "dotpath": F.when(is_abs_path, refpath)
            .when(is_relative, merged)
            .otherwise(F.lit("")),
        }
    )
    df = df.withColumns(
        {p + "dotted": remove_dot_segments(F.col(p + "dotpath"))}
    )
    scheme, origin = F.col(p + "scheme"), F.col(p + "origin")
    base_pq, refqf = F.col(p + "basepq"), F.col(p + "refqf")
    dotted = F.col(p + "dotted")
    resolved = (
        F.when(r.rlike(_SCHEME), r)
        .when(r.startswith("//"), F.concat(scheme, F.lit(":"), r))
        .when(r.startswith("/"), F.concat(origin, dotted, refqf))
        .when(r.startswith("?"), F.concat(origin, bpath, r))
        .when(r.startswith("#"), F.concat(base_pq, r))
        .when(r == "", base_pq)
        .otherwise(F.concat(origin, dotted, refqf))
    )
    df = df.withColumn(out_col, resolved)
    return df.drop(
        *[
            p + c
            for c in (
                "scheme origin bpath basepq refpath refqf dotpath dotted"
            ).split()
        ]
    )


# --- oracle twin -----------------------------------------------------------------


def duckdb_resolve_sql(base: str, ref: str) -> str:
    """The SAME frozen policy rendered as a DuckDB SQL expression over
    the SQL expressions ``base`` and ``ref`` — emitted from the shared
    pattern constants so the two engines cannot drift silently.  DuckDB
    regexp_replace needs the explicit 'g' flag to match Spark's
    replace-all; patterns contain no single quotes, so plain quoting is
    safe."""

    def rrep(s: str, pat: str, rep: str) -> str:
        return f"regexp_replace({s}, '{pat}', '{rep}', 'g')"

    def rext(s: str, pat: str) -> str:
        return f"regexp_extract({s}, '{pat}', 1)"

    def dots(s: str) -> str:
        for pat, rep, times in _DOT_RULES:
            for _ in range(times):
                s = rrep(s, pat, rep)
        return s

    scheme = rext(base, _SCHEME_G)
    origin = rext(base, _ORIGIN_G)
    bpath = rext(base, _SCHEME + "//[^/?#]*([^?#]*)")
    bdir = rrep(bpath, "[^/]*$", "")
    base_pq = rrep(base, "#.*$", "")
    refpath = rext(ref, "^([^?#]*)")
    refqf = rext(ref, "([?#].*)$")
    merged = (
        f"CASE WHEN {bpath} = '' THEN '/' || {refpath} "
        f"ELSE {bdir} || {refpath} END"
    )
    return (
        f"CASE WHEN regexp_matches({ref}, '{_SCHEME}') THEN {ref} "
        f"WHEN {ref} LIKE '//%' THEN {scheme} || ':' || {ref} "
        f"WHEN {ref} LIKE '/%' THEN {origin} || {dots(refpath)} || {refqf} "
        f"WHEN {ref} LIKE '?%' THEN {origin} || {bpath} || {ref} "
        f"WHEN {ref} LIKE '#%' THEN {base_pq} || {ref} "
        f"WHEN {ref} = '' THEN {base_pq} "
        f"ELSE {origin} || {dots(merged)} || {refqf} END"
    )
