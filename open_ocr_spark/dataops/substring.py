"""Cross-document exact substring deduplication (duplicated-span
removal).

Doc-level dedup (dataops/dedup.py) drops whole near-identical documents;
this operator removes REPEATED PASSAGES — boilerplate paragraphs, quoted
chain content, syndicated snippets — that survive doc-level passes
because the surrounding document differs.  The published treatment
(Lee et al., "Deduplicating Training Data Makes Language Models Better",
ACL 2022) uses a corpus-wide suffix array; the Spark-first equivalent
here is the windowed form the same paper motivates: every W-token
window that occurs more than once in the corpus keeps its FIRST
occurrence (min (doc_id, position)) and is blanked everywhere else, so
a duplicated region of any length >= W is removed via the union of its
overlapping windows.

Scale shape (the 100 TB question):
- window construction is a per-row HOF projection (sequence/transform/
  slice) — no explode until the occurrence table, whose size is exactly
  the corpus token count, the same order as any tokenizing pass;
- duplicate detection is ONE window pass keyed by md5(gram) — a
  uniform 128-bit key, no skew by construction; non-first occurrences
  (row_number > 1) need no count filter and no join back to the
  occurrence stream;
- removal spans flow back through a groupBy(doc_id) + equi-join on
  doc_id, both output-proportional (only documents that contain a
  duplicated span carry any payload);
- span blanking is a per-row HOF filter (exists() over the doc's own
  span list) — zero Python, whole-stage codegen end to end.  Cost is
  O(tokens x spans) per document, which only degrades for documents
  that are themselves mostly duplicated — exactly the rows the operator
  is built to shrink.

Every step is engine-independent (md5, not xxhash), so the whole
pipeline is reproducible in DuckDB SQL for the driver's value-hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_ocr_spark.dataops.words import split_spaces


def dedup_substrings(
    docs: DataFrame,
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, clean_text, n_tokens, n_removed): the corpus with every
    duplicated W-token span blanked except its first occurrence in
    (doc_id, position) order.  Tokens are whitespace-split words (the
    same convention as the packing/decontam tiers); removal is
    token-exact — a token survives iff no removed span covers it."""
    w = int(window)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        split_spaces(F.coalesce(F.col(text_col), F.lit(""))).alias("words"),
    )

    grams = base.select(
        "doc_id",
        F.when(
            F.size("words") >= w,
            F.transform(
                F.sequence(F.lit(0), F.size("words") - w),
                lambda i: F.array_join(F.slice("words", i + 1, w), " "),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("grams"),
    )
    occ = grams.select(
        "doc_id", F.posexplode("grams").alias("pos", "gram")
    ).select("doc_id", "pos", F.md5("gram").alias("gh"))

    # Non-first occurrences via ONE window pass: rank each gram's
    # occurrences by (doc_id, pos) and keep rn > 1 — for unique grams
    # only rn = 1 exists, so no count filter is needed.  This replaces
    # an earlier min(struct)-aggregate + join-back formulation that (a)
    # compiled to SortAggregate (struct min has no mutable hash buffer)
    # and (b) re-joined the duplicate table against the full occurrence
    # stream — a fact-fact shuffle join at corpus scale.  The window is
    # a single exchange on the uniform md5 key.
    from pyspark.sql import Window

    w_spec = Window.partitionBy("gh").orderBy("doc_id", "pos")
    removed = (
        occ.withColumn("_rn", F.row_number().over(w_spec))
        .filter(F.col("_rn") > 1)
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("spans"))
    )

    joined = base.join(removed, "doc_id", "left").select(
        "doc_id",
        "words",
        F.coalesce(F.col("spans"), F.array().cast("array<int>")).alias(
            "spans"
        ),
    )
    kept = F.filter(
        "words",
        lambda tok, i: ~F.exists(
            "spans", lambda p: (p <= i) & (i < p + F.lit(w))
        ),
    )
    return joined.select(
        "doc_id",
        F.array_join(kept, " ").alias("clean_text"),
        F.size("words").cast("long").alias("n_tokens"),
        (F.size("words") - F.size(kept)).cast("long").alias("n_removed"),
    )
