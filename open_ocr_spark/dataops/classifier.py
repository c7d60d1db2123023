"""Linear text-classifier TRAIN + SERVE at corpus scale (the
CCNet/fastText quality-gate shape): tokenize, look up a per-token
weight, mean-pool, sigmoid.  This is the stage a real pipeline runs
over every crawled document.  Training (perceptron_train, r5) closes
the last "offline model" dependency: the gate's weights are learned
IN-corpus with an integer-exact batch perceptron whose per-iteration
work is one term equi-join plus two hash aggregates — the same
distributed shape as serving.  For serving, the weight table is either

- caller-supplied (term, weight) pairs — broadcast-joined, the
  production path, or
- the hashing trick's deterministic fallback: weight(token) =
  (md5_31(token) mod 2001) - 1000, an integer in [-1000, 1000]
  standing for a fixed-point w/1000 — so the engine contract is
  testable without shipping a model, and the DuckDB oracle can
  recompute every weight.

Scale shape: one explode + hash aggregate per document (map-side
partial sums), weights broadcast.  The accumulator is an exact int64
(sum of fixed-point weights), so classification decisions
(sum >= 0 <=> p >= 0.5) are integer-exact and parallelism-invariant;
the only float is the reported probability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_ocr_spark.dataops.words import words

_TWO31 = 2147483647


def _term_counts(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, term, cnt): bag-of-words counts with the module's shared
    tokenizer (lower + whitespace split, empties dropped) — identical
    spelling to hashed_linear_score so trained weights serve directly."""
    return (
        docs.select(
            F.col(id_col),
            F.explode(
                words(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
            ).alias("term"),
        )
        .groupBy(id_col, "term")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def perceptron_train(
    docs: DataFrame,
    iters: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "y",
) -> DataFrame:
    """(term, weight) after ``iters`` batch-perceptron epochs — integer-
    exact, so the result is parallelism-invariant and the DuckDB oracle
    can replay every epoch as an unrolled CTE (the kmeans_clusters /
    bpe_train pattern).

    ``docs[label_col]`` must be +1/-1.  Epoch semantics: score every
    document under the current weights (missing terms contribute 0, the
    empty table scores everything 0), predict sign(score) with the
    score>=0 -> +1 tie rule, then add sum(y * cnt) over MISCLASSIFIED
    documents to each term's weight — the classic batch perceptron on
    count features (Rosenblatt 1958; Collins EMNLP'02 for the averaged
    structured variant this mirrors).

    Scale shape: token counts are computed once and pinned; each epoch
    is one term equi-join (toks x weights — both term-partitioned, no
    broadcast assumption since the vocab is corpus-sized at 100 TB),
    one per-doc hash aggregate, one misclassified semi-set and one
    per-term hash aggregate.  No collect anywhere: the model STAYS a
    DataFrame, exactly how a 10^12-doc corpus would train a gate."""
    toks = _term_counts(docs, text_col, id_col).localCheckpoint(eager=True)
    labels = docs.select(
        id_col, F.col(label_col).cast("long").alias("y")
    ).localCheckpoint(eager=True)
    spark = docs.sparkSession
    weights = spark.createDataFrame([], "term string, w long")
    for _ in range(iters):
        scores = (
            toks.join(weights, "term")
            .groupBy(id_col)
            .agg(F.sum(F.col("w") * F.col("cnt")).alias("score"))
        )
        mis = (
            labels.join(scores, id_col, "left")
            .filter(
                F.when(F.coalesce("score", F.lit(0)) >= 0, F.lit(1))
                .otherwise(F.lit(-1))
                != F.col("y")
            )
            .select(id_col, "y")
        )
        delta = (
            mis.join(toks, id_col)
            .groupBy("term")
            .agg(F.sum(F.col("y") * F.col("cnt")).alias("d"))
        )
        weights = (
            weights.join(delta, "term", "full")
            .select(
                "term",
                (F.coalesce("w", F.lit(0)) + F.coalesce("d", F.lit(0)))
                .cast("long")
                .alias("w"),
            )
            .localCheckpoint(eager=True)
        )
    return weights.filter(F.col("w") != 0).select(
        "term", F.col("w").alias("weight")
    )


def _hash_weight(col):
    """Deterministic fallback weight in [-1000, 1000] (fixed-point
    thousandths), same expression DuckDB spells with md5/substring."""
    h = F.pmod(
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long"),
        F.lit(_TWO31),
    )
    return (h % 2001 - F.lit(1000)).cast("long")


def hashed_linear_score(
    docs: DataFrame,
    weights: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tokens, weight_sum, prob, label): mean-pooled linear
    score per document.  weight_sum is the exact fixed-point
    accumulator; label = weight_sum >= 0 (integer-exact); prob =
    sigmoid(weight_sum / (1000 * n_tokens)).  Documents with no tokens
    score weight_sum 0, prob 0.5, label true."""
    toks = docs.select(
        F.col(id_col),
        F.explode(
            words(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
        ).alias("term"),
    )
    if weights is not None:
        weighted = toks.join(F.broadcast(weights), "term").select(
            id_col, F.col("weight").cast("long").alias("w")
        )
    else:
        weighted = toks.select(
            id_col, _hash_weight(F.col("term")).alias("w")
        )
    sums = weighted.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("w").cast("long").alias("weight_sum"),
    )
    # left join back so empty documents keep a row
    base = docs.select(id_col).join(sums, id_col, "left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("weight_sum", F.lit(0)).cast("long").alias("weight_sum"),
    )
    logit = F.when(
        F.col("n_tokens") > 0,
        F.col("weight_sum") / (F.lit(1000.0) * F.col("n_tokens")),
    ).otherwise(F.lit(0.0))
    return base.select(
        id_col,
        "n_tokens",
        "weight_sum",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))).alias("prob"),
        (F.col("weight_sum") >= 0).alias("label"),
    )
