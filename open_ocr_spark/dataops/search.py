"""Inverted index construction and BM25 ranked retrieval, pure Catalyst.

The corpus-search primitives a training-data pipeline needs for
"find every document mentioning X" audits: a (term, doc_id, tf)
posting-list table, and Robertson/Lucene BM25 scoring
(idf = ln(1 + (N - df + 0.5)/(df + 0.5)), tf normalized by document
length against the corpus average).

Scale shape: the query-term filter lands IMMEDIATELY after the token
explode, so the shuffled posting stream holds only query-term hits,
never the full index; document length is a map-only projection; the
3-row df table and the 1-row corpus stats broadcast.  One real shuffle
(tf groupBy) plus the tf-to-length join on doc_id.

Scores are doubles (ln is transcendental — no exact-integer form);
query surfaces round to 4dp, the repo's established cross-engine float
contract (see stats_corr_revenue).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_ocr_spark.dataops.words import words


def inverted_index(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(term, doc_id, tf): the posting-list table."""
    toks = words(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    return (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def bm25_rank(
    docs: DataFrame,
    query_terms: list,
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(doc_id, n_terms_matched, score): BM25 over the query terms for
    every document matching at least one of them.  No top-k cutoff here
    — callers rank/limit on the returned scores, so the hashed surface
    is cutoff-free."""
    terms = [t.lower() for t in query_terms]
    toks = words(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    lengths = docs.select(
        "doc_id", F.size(toks).cast("long").alias("dl")
    )
    stats = lengths.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .where(F.col("term").isin(terms))
        .groupBy("term", "doc_id")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    df_tbl = tf.groupBy("term").agg(
        F.count("*").cast("double").alias("df")
    )
    scored = (
        tf.join(F.broadcast(df_tbl), "term")
        .join(lengths, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tf_norm = (
        F.col("tf")
        * F.lit(k1 + 1.0)
        / (
            F.col("tf")
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * F.col("dl") / F.col("avgdl")
            )
        )
    )
    return (
        scored.withColumn("term_score", idf * tf_norm)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_terms_matched"),
            F.sum("term_score").alias("score"),
        )
    )


def tfidf_top_terms(
    docs: DataFrame, k: int = 3, text_col: str = "text"
) -> DataFrame:
    """(doc_id, rank, term, tf, df, tfidf): each document's top-k
    keyword terms — the TF-IDF vector head a retrieval/labeling pipeline
    materializes per document.

    Frozen ranking contract: terms order by (tf DESC, df ASC, term ASC)
    — integer-only keys, so the top-k set is exact and engine-independent
    even though the reported tfidf weight is a float.  tfidf uses the
    smoothed idf ln((1+N)/(1+df)) + 1 (the sklearn TfidfTransformer
    form, smooth_idf=True), rounded to 4dp under the repo's established
    cross-engine float contract (see bm25_rank header).

    Scale shape: tf is inverted_index's one uniform-key shuffle; df is a
    vocab-sized hash aggregate joined back on the term key (Zipf skew
    collapses map-side); N is a 1-row broadcast; top-k is a row_number
    window PARTITIONED BY doc_id — uniform key, WindowGroupLimit prunes
    map-side, never a global sort."""
    from pyspark.sql import Window

    tf = inverted_index(docs, text_col)
    df_tbl = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    n_docs = docs.agg(F.count("*").cast("long").alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(df_tbl, "term")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            F.col("rank").cast("long").alias("rank"),
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.lit(1) + F.col("n_docs")).cast("double")
                        / (F.lit(1) + F.col("df")).cast("double")
                    )
                    + F.lit(1.0)
                ),
                4,
            ).alias("tfidf"),
        )
    )
