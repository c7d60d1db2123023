"""Extraction-quality evaluation: token-multiset precision / recall / F1
of a candidate text column against a golden reference column.

The reference repo's whole test strategy is golden-output comparison
(ocr_http_handler/engine tests assert exact strings); at corpus scale an
engineer needs the GRADED version of that check — how close is the
extractor per document, not just equal/unequal. This operator is the
standard tokenization-level P/R/F1 used by extraction benchmarks
(e.g. the CleanEval / boilerplate-removal literature): both texts are
whitespace-tokenized, compared as multisets (min of the two counts per
token), and each document gets precision = match/candidate, recall =
match/golden, F1 = 2·match/(golden+candidate) (the Dice identity keeps
F1 exact in integers — no rounding of rounded values).

Scale design: two narrow explodes, one hash aggregate per side on the
uniform (doc_id, token) key, one full outer equi-join on the same key,
then a per-doc re-aggregate — every exchange is on (doc_id, token) or
doc_id, both uniform; no Python, no window, no collect. At 100 TB the
(doc_id, token) cardinality is the corpus token count, the same scale
the BPE/TF-IDF operators already shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_ocr_spark.dataops.words import words, words_sql


def _token_counts(df: DataFrame, text_col: str, out: str) -> DataFrame:
    return (
        df.select("doc_id", F.explode(words(F.col(text_col))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias(out))
    )


def token_prf(golden: DataFrame, candidate: DataFrame,
              golden_col: str = "text",
              candidate_col: str = "text") -> DataFrame:
    """(doc_id, n_gold, n_cand, n_match, precision, recall, f1) per
    document; 4-dp rounding on the three ratios (driver contract)."""
    g = _token_counts(golden, golden_col, "c_gold")
    c = _token_counts(candidate, candidate_col, "c_cand")
    j = g.join(c, ["doc_id", "tok"], "full")
    agg = j.groupBy("doc_id").agg(
        F.sum(F.coalesce("c_gold", F.lit(0))).alias("n_gold"),
        F.sum(F.coalesce("c_cand", F.lit(0))).alias("n_cand"),
        F.sum(
            F.least(F.coalesce("c_gold", F.lit(0)),
                    F.coalesce("c_cand", F.lit(0)))
        ).alias("n_match"),
    )
    # try_divide: a side with zero tokens yields NULL for its ratio (ANSI
    # mode would otherwise throw), matching SQL NULL-propagation semantics
    return agg.select(
        "doc_id", "n_gold", "n_cand", "n_match",
        F.round(F.try_divide("n_match", "n_cand"), 4).alias("precision"),
        F.round(F.try_divide("n_match", "n_gold"), 4).alias("recall"),
        F.round(
            F.try_divide(2 * F.col("n_match"),
                         F.col("n_gold") + F.col("n_cand")), 4
        ).alias("f1"),
    )


def token_prf_oracle_sql(golden_expr: str, candidate_expr: str) -> str:
    """DuckDB full replay of the same multiset computation over two SQL
    expressions each producing (doc_id, text) rows."""
    return f"""
        WITH g0 AS ({golden_expr}),
        c0 AS ({candidate_expr}),
        g AS (
            SELECT doc_id, tok, count(*) AS c_gold
            FROM (SELECT doc_id, unnest({words_sql("text")}) AS tok FROM g0)
            GROUP BY doc_id, tok
        ),
        c AS (
            SELECT doc_id, tok, count(*) AS c_cand
            FROM (SELECT doc_id, unnest({words_sql("text")}) AS tok FROM c0)
            GROUP BY doc_id, tok
        ),
        j AS (
            SELECT coalesce(g.doc_id, c.doc_id) AS doc_id,
                   coalesce(g.c_gold, 0) AS c_gold,
                   coalesce(c.c_cand, 0) AS c_cand
            FROM g FULL OUTER JOIN c
              ON g.doc_id = c.doc_id AND g.tok = c.tok
        )
        SELECT doc_id,
               sum(c_gold)::BIGINT AS n_gold,
               sum(c_cand)::BIGINT AS n_cand,
               sum(least(c_gold, c_cand))::BIGINT AS n_match,
               round(sum(least(c_gold, c_cand)) / sum(c_cand), 4)
                   AS precision,
               round(sum(least(c_gold, c_cand)) / sum(c_gold), 4)
                   AS recall,
               round(2.0 * sum(least(c_gold, c_cand))
                     / (sum(c_gold) + sum(c_cand)), 4) AS f1
        FROM j
        GROUP BY doc_id
        ORDER BY doc_id
    """
