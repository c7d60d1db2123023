"""Benchmark decontamination: flag training documents that share an
n-gram with an evaluation/benchmark set (the GPT-3/PaLM-style 13-gram
overlap rule; n is a parameter because the right value depends on the
tokenizer and corpus).

A training corpus that contains eval data poisons every downstream
measurement, so this runs after dedup and before packing in a real
pipeline.  The reference has no corpus-level ops at all (it is a
per-document engine, /root/reference/ocr_request.go); this belongs to the
LLM-pipeline tier the graft adds.

Scale shape (100 TB corpus, ~MB-to-GB benchmark): the benchmark side is
shingled and distinct-ed first — eval sets are tiny relative to the
corpus, so Spark broadcasts them (AQE converts even a declared shuffle
join once the build side is measured small; we declare the broadcast
explicitly because the asymmetry is structural, not statistical).  The
corpus side is shingled with `transform(sequence(...))` — pure Catalyst,
no Python — and never collected or re-shuffled: the broadcast hash join
filters it map-side, so the only exchange carries the HITS (corpus rows
that matched an eval shingle), which is output-sized, not corpus-sized.
Per-doc de-duplication of shingles (`array_distinct`) bounds the explode
at distinct-grams-per-doc before the join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from open_ocr_spark.dataops.words import tokens


def word_ngrams(text: Column | str, n: int) -> Column:
    """array<string> of the word-level n-grams of a text: whitespace runs
    (spaces, tabs, newlines) are normalised to single spaces first, then
    one gram per window of n consecutive words, space-rejoined.  The
    normalisation matters: an eval passage reformatted across lines must
    still match, and line-deduped corpus text (lines.py rejoins with \\n)
    would otherwise contribute zero matchable grams per short line.  A
    text with fewer than n words has no grams (empty array, not null).
    Pure Catalyst (regexp_replace/split/sequence/transform/slice)."""
    col = F.col(text) if isinstance(text, str) else text
    toks = tokens(F.coalesce(col, F.lit("")))
    n_grams = F.size(toks) - F.lit(n - 1)
    return F.when(
        n_grams > 0,
        F.transform(
            F.sequence(F.lit(0), n_grams - F.lit(1)),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """(id_col, n_grams, n_hits, contaminated) per training document:
    `n_hits` = how many of the document's DISTINCT n-grams appear anywhere
    in the benchmark, `contaminated` = n_hits > 0.  Every input document
    gets a row (clean docs have n_hits = 0) so the caller can anti-filter
    or audit without a second pass.

    The benchmark's grams are distinct-ed and broadcast; a gram shared by
    many benchmark rows matches once.  Documents shorter than n words
    have 0 grams and are trivially clean.

    Single corpus pass by construction: the shingle array is built once,
    its size (n_grams) rides along through `explode_outer` (which also
    keeps 0-gram docs as one null-gram row), the broadcast left join
    marks hits map-side, and the per-doc count collapses via partial
    aggregation — the one exchange carries ~one row per document, never
    the text and never the shingles.  The naive two-branch form (inner
    join for hits + separate totals scan) reads and shingles the text
    column TWICE; at corpus scale the extra full-column scan costs more
    than this shuffle of id-sized rows.
    """
    bench_grams = (
        benchmark.select(
            F.explode(word_ngrams(F.col(bench_text_col), n)).alias("gram")
        )
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    exploded = docs.select(
        F.col(id_col),
        F.array_distinct(word_ngrams(F.col(text_col), n)).alias("grams"),
    ).select(
        id_col,
        F.size("grams").alias("n_grams"),
        F.explode_outer("grams").alias("gram"),
    )
    return (
        exploded.join(F.broadcast(bench_grams), "gram", "left")
        .groupBy(id_col, "n_grams")
        .agg(F.count("hit").alias("n_hits"))
        .select(
            id_col,
            "n_grams",
            F.col("n_hits").cast("long").alias("n_hits"),
            (F.col("n_hits") > 0).alias("contaminated"),
        )
    )
