"""Host-level template-line removal (site boilerplate dedup).

The DOM-level boilerplate strip (kernels/html_extract.py, the A8
stroke-width-transform recast — `/root/reference/stroke_width_transform.go:15-68`)
removes nav/footer NODES per page, but crawl corpora still carry
template TEXT the markup doesn't isolate: cookie banners, subscribe
prompts, copyright lines, breadcrumbs rendered as plain paragraphs.
The corpus-level counterpart (CCNet removes lines duplicated across
the whole corpus; this variant scopes the evidence to the host, where
templates actually live): a line is template iff it occurs on at least
``min_docs`` distinct documents of the SAME host AND on at least
``frac_num/frac_den`` of that host's documents. Both thresholds are
integer-exact (no float fraction), so the decision is identical on any
engine and any partitioning.

Scale design (the 100 TB question): evidence is keyed on
``(host, md5(line))`` — a uniform key, so the counting aggregate is
one well-spread hash shuffle with map-side partials; the verdict joins
back on the same key (co-partitioned, AQE reuses the exchange); the
per-document reassembly groups on ``doc_id`` using
``array_sort(collect_list(struct(pos, line)))`` — no global sort, no
window over the corpus, no Python anywhere. Template lines per host
are tiny (they are, by definition, the repeated few), so the verdict
side of the join is naturally small and broadcastable under AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def strip_template_lines(
    df: DataFrame,
    *,
    host_col: str = "host",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 3,
    frac_num: int = 1,
    frac_den: int = 2,
) -> DataFrame:
    """(id, clean_text, n_kept, n_removed): the document with its
    host-template lines removed (order preserved), plus kept/removed
    line counts. Whitespace-only lines are never template evidence and
    are always kept; a line repeated within ONE document counts once
    (evidence is distinct documents, not occurrences).

    The exploded line table feeds BOTH the evidence aggregate and the
    verdict join, so Catalyst plans two scans of the text column — cheap
    when the input is a parquet scan; a caller whose input is itself an
    expensive subtree (e.g. the extraction kernel's output) checkpoints
    it first."""
    host = F.col(host_col)
    key = F.md5(F.encode(F.trim(F.col("line")), "utf-8"))

    lines = df.select(
        host.alias("_host"),
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n", -1)
        ).alias("pos", "line"),
    ).withColumn("_key", key)

    host_sizes = df.groupBy(host.alias("_host")).agg(
        F.countDistinct(F.col(id_col)).alias("host_docs")
    )
    counts = (
        lines.filter(F.length(F.trim("line")) > 0)
        .groupBy("_host", "_key")
        .agg(F.countDistinct("_id").alias("n_docs"))
    )
    templates = (
        counts.join(host_sizes, "_host")
        .filter(
            (F.col("n_docs") >= F.lit(int(min_docs)))
            & (
                F.col("n_docs") * F.lit(int(frac_den))
                >= F.lit(int(frac_num)) * F.col("host_docs")
            )
        )
        .select("_host", "_key", F.lit(True).alias("is_tpl"))
    )

    flagged = lines.join(templates, ["_host", "_key"], "left").withColumn(
        "is_tpl", F.coalesce(F.col("is_tpl"), F.lit(False))
    )
    kept_struct = F.when(
        ~F.col("is_tpl"), F.struct(F.col("pos"), F.col("line"))
    )
    return (
        flagged.groupBy(F.col("_id").alias(id_col))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x.line,
                ),
                "\n",
            ).alias("clean_text"),
            F.sum((~F.col("is_tpl")).cast("long")).alias("n_kept"),
            F.sum(F.col("is_tpl").cast("long")).alias("n_removed"),
        )
    )


def strip_template_lines_oracle_sql(
    source_expr: str,
    *,
    min_docs: int = 3,
    frac_num: int = 1,
    frac_den: int = 2,
) -> str:
    """DuckDB replay over ``source_expr`` (rows of (host, doc_id,
    text)): same md5-keyed evidence, same integer thresholds, ordered
    reassembly via string_agg(... ORDER BY pos)."""
    return f"""
        WITH src AS ({source_expr}),
        lines AS (
            SELECT host, doc_id,
                   generate_subscripts(string_split(coalesce(text, ''),
                                                    chr(10)), 1) - 1 AS pos,
                   unnest(string_split(coalesce(text, ''), chr(10))) AS line
            FROM src
        ),
        keyed AS (
            SELECT *, md5(trim(line)) AS key FROM lines
        ),
        host_sizes AS (
            SELECT host, count(DISTINCT doc_id) AS host_docs
            FROM src GROUP BY host
        ),
        counts AS (
            SELECT host, key, count(DISTINCT doc_id) AS n_docs
            FROM keyed WHERE length(trim(line)) > 0
            GROUP BY host, key
        ),
        templates AS (
            SELECT counts.host, key
            FROM counts JOIN host_sizes USING (host)
            WHERE n_docs >= {int(min_docs)}
              AND n_docs * {int(frac_den)} >= {int(frac_num)} * host_docs
        ),
        flagged AS (
            SELECT k.doc_id, k.pos, k.line,
                   t.key IS NOT NULL AS is_tpl
            FROM keyed k
            LEFT JOIN templates t ON k.host = t.host AND k.key = t.key
        )
        SELECT doc_id,
               coalesce(string_agg(line, chr(10) ORDER BY pos)
                            FILTER (WHERE NOT is_tpl), '') AS clean_text,
               count(*) FILTER (WHERE NOT is_tpl) AS n_kept,
               count(*) FILTER (WHERE is_tpl) AS n_removed
        FROM flagged
        GROUP BY doc_id
        ORDER BY doc_id
    """
