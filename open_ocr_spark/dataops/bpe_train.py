"""Distributed BPE merge learning (Sennrich et al. 2016) over the
word histogram, plus Catalyst-only application of a learned merge table.

Training needs corpus-global argmaxes, so it is inherently iterative:
each round counts adjacent symbol pairs (weighted by word frequency),
merges the most frequent pair everywhere, and repeats.  The classical
scaling trick makes this cheap at 100 TB: the corpus is scanned ONCE
into a (word, freq) histogram — vocabulary size, not corpus size — and
every iteration then works on that tiny table.  Per iteration: one
pair-count hash aggregate over the vocab, a 1-ROW collect (the learned
merge is a model parameter, not data — the same legitimate driver-side
scalar as the PageRank convergence checksum), and a literal string
replace projected onto the vocab.

Symbol sequences are stored as DOUBLE-space-joined strings with a
single-space pad (" l  o  w  e  r "), because in that form greedy
left-to-right BPE merging IS plain string replace: the pattern
" a  b " -> " ab " consumes one space from each side's double
separator and the replacement restores it, so adjacent merge sites
keep their boundary and " a  a  a  a " correctly becomes " aa  aa "
(single-space joining would eat the shared boundary and yield
[aa, a, a]; Sennrich's reference escapes this with regex lookarounds,
which RE2 — hence DuckDB — does not support).  `replace` scans left to
right without overlap identically on the JVM and in DuckDB, which is
what lets the driver oracle replay whole training runs in SQL.
Symbols can never contain the delimiter: they come from whitespace
splitting.

Determinism: ties on pair frequency break by (left, right) ascending —
binary collation both engines — so the merge table is a pure function
of the corpus at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_ocr_spark.dataops.words import words

MERGES_SCHEMA = "merge_rank long, lhs string, rhs string, pair_freq long"


def _char_join(col):
    """'low' -> ' l  o  w ' (initial single-character symbols in the
    padded double-space storage form)."""
    return F.concat(
        F.lit(" "),
        F.rtrim(F.regexp_replace(col, "(.)", "$1  ")),
        F.lit(" "),
    )


def _syms_list(syms_col):
    """Storage form back to the symbol array (split + drop empties)."""
    return F.filter(F.split(syms_col, " "), lambda w: w != F.lit(""))


def word_histogram(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(syms, freq): the distinct-word frequency table with symbols
    initialised to characters.  The one corpus-sized stage."""
    return (
        docs.select(
            F.explode(words(F.coalesce(F.col(text_col), F.lit(""))))
            .alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
        .select(_char_join(F.col("word")).alias("syms"), "freq")
    )


def _merge_applied(syms_col, lhs: str, rhs: str):
    return F.replace(
        syms_col, F.lit(f" {lhs}  {rhs} "), F.lit(f" {lhs}{rhs} ")
    )


def learn_bpe_merges(
    docs: DataFrame, k: int = 8, text_col: str = "text"
) -> list[tuple[int, str, str, int]]:
    """The first k BPE merges as (merge_rank, lhs, rhs, pair_freq).

    Stops early if no adjacent pair remains (vocabulary exhausted)."""
    words = word_histogram(docs, text_col).localCheckpoint()
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, k + 1):
        parts = _syms_list(F.col("syms"))
        n = F.size(parts)
        pairs = words.select(
            "freq",
            F.explode(
                F.arrays_zip(
                    F.slice(parts, 1, n - 1).alias("lhs"),
                    F.slice(parts, 2, n - 1).alias("rhs"),
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy(
                F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs")
            )
            .agg(F.sum("freq").alias("pair_freq"))
            .orderBy(F.desc("pair_freq"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        b = best[0]
        merges.append((rank, b.lhs, b.rhs, int(b.pair_freq)))
        words = words.select(
            _merge_applied(F.col("syms"), b.lhs, b.rhs).alias("syms"),
            "freq",
        ).localCheckpoint()
    return merges


def merges_df(spark: SparkSession, merges) -> DataFrame:
    return spark.createDataFrame(merges, MERGES_SCHEMA)


def apply_bpe_merges(
    docs: DataFrame,
    merges,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize text with a learned merge table, pure Catalyst: each
    word becomes its char-joined form, the k merges replay in rank
    order as literal replaces, and the results flatten to one token
    array per document.  Zero Python per row, zero shuffles."""

    def encode_word(w):
        s = _char_join(w)
        for _, lhs, rhs, _ in merges:
            s = _merge_applied(s, lhs, rhs)
        return _syms_list(s)

    toks = F.flatten(
        F.transform(words(F.coalesce(F.col(text_col), F.lit(""))),
                    lambda w: encode_word(w))
    )
    return docs.withColumn(out_col, toks)
