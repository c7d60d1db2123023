"""Line-level dedup: CCNet/RefinedWeb-style boilerplate removal.

Crawl corpora repeat whole LINES across documents (cookie banners, nav
text, footers) far more often than whole documents; line-level dedup
removes any line that appears in >= `min_docs` distinct documents and
reassembles each document from its surviving lines, in order.  This is
the per-line analogue of the reference's boilerplate strip (the SWT
preprocessor drops non-content REGIONS per page; this drops non-content
lines per corpus — /root/reference/preprocessor-stroke-width-transform.go
motivates the same "strip chrome before OCR/extraction" stage).

Scale shape (100 TB): two shuffles, both on uniform keys — one hash
aggregate on the line string (partial/map-side combine; boilerplate lines
collapse early because every partition holds copies), one hash aggregate
on doc_id for reassembly.  The frequent-line table is tiny relative to
the corpus (it is the distinct lines with >= min_docs owners), so AQE
converts the annotation join to broadcast at runtime when it fits; the
declared plan keeps it a shuffle join so the operator never depends on
the frequent set fitting in memory.  No Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_ocr_spark.dataops.words import split_spaces


def dedup_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """(id_col, n_lines, n_kept, text_clean) with every line that occurs
    in >= min_docs distinct documents removed from every document.

    Lines are compared byte-exactly (callers normalise upstream if they
    want case/digit-insensitive matching a la CCNet).  A document whose
    lines are ALL boilerplate survives with text_clean = '' — dropping
    documents is a separate policy decision (quality gate), not this
    operator's.  Within-document repeats of a rare line are kept (the
    occurrence threshold counts distinct documents, not occurrences).
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).alias(
            "pos", "line"
        ),
    )
    frequent = (
        lines.groupBy("line")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("line")
    )
    # LEFT join + null-flag instead of anti-join so ONE pass yields both
    # the kept lines and the per-document totals (collect_list skips the
    # nulls that mark dropped lines).
    annotated = lines.join(
        frequent.withColumn("is_frequent", F.lit(True)), on="line", how="left"
    )
    kept_struct = F.when(
        F.col("is_frequent").isNull(), F.struct("pos", "line")
    )
    return (
        annotated.groupBy(id_col)
        .agg(
            F.count("*").alias("n_lines"),
            F.count(kept_struct).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("text_clean"),
        )
    )


def chunk_words_to_lines(
    text: F.Column | str, words_per_line: int = 10
) -> F.Column:
    """array<string> of `words_per_line`-word lines from a flat text.

    Deterministic fixture/helper used to give the single-line synthetic
    corpus a line structure both engines can reproduce: split on single
    spaces, slice into fixed-width chunks.  Pure Catalyst (split /
    sequence / transform / slice / array_join)."""
    col = F.col(text) if isinstance(text, str) else text
    toks = split_spaces(F.coalesce(col, F.lit("")))
    n_lines = F.ceil(F.size(toks) / F.lit(words_per_line)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_lines - F.lit(1)),
        lambda i: F.array_join(
            F.slice(toks, i * words_per_line + 1, words_per_line), " "
        ),
    )
