"""DSIR-style importance resampling over hashed n-gram features.

Data Selection via Importance Resampling (Xie et al., NeurIPS 2023,
arXiv:2302.03169): select pretraining documents whose hashed n-gram
distribution looks like a TARGET domain. Features are unigrams + word
bigrams hashed into a small bucket space; a bag-of-buckets multinomial is
fit on the target subset and on the raw corpus, and each document's
importance weight is its sum of per-feature log-likelihood ratios
log p_target(b) - log p_raw(b) (add-one smoothing on both). Resampling
keeps the top-k by weight.

Exactness discipline (same pattern as dataops/classifier.py and
dataops/kmeans.py): the per-bucket log-ratio is frozen to a 6-decimal
FIXED-POINT integer the moment it is computed — ``round(1e6 * (ln(...) -
ln(...)))`` over exact integer counts — so every per-document score is an
int64 SUM of per-bucket integers: associative, parallelism-invariant, and
bit-identical between Spark and the DuckDB oracle. ln appears only in the
per-bucket constant (≤ ``buckets`` values computed once from exact
rationals), never in a per-row accumulation.

Scale design (100 TB): two corpus passes, both shuffle-light —
(1) explode grams → hash-aggregate per bucket (map-side combine; the
    reduced table is ≤ ``buckets`` rows);
(2) explode grams → BROADCAST-join the weight table → hash-aggregate per
    doc_id.
The weight table is a model parameter (like kmeans centroids / perceptron
weights), broadcast, never shuffled with the corpus. Resampling top-k is
a TakeOrdered on the integer score, never a global sort. ``buckets``
should scale with cluster size (65 536 at 1000 executors) so pass (1)'s
reduce keys never concentrate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from open_ocr_spark.dataops.words import words

SCALE = 1_000_000  # 6-decimal fixed point for the per-bucket log-ratio


def _grams(text: str = "text") -> Column:
    """Unigrams + word bigrams, one array (the DSIR feature bag)."""
    toks = words(F.lower(F.coalesce(F.col(text), F.lit(""))))
    size = F.size(toks)
    bigrams = F.when(
        size >= 2,
        F.zip_with(
            F.slice(toks, F.lit(1), size - F.lit(1)),
            F.slice(toks, F.lit(2), size - F.lit(1)),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


def _bucket(col: Column, buckets: int) -> Column:
    """md5-derived feature bucket — engine-independent (the oracle spells
    ('0x' || substring(md5(g),1,8))::BIGINT % buckets)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast(
        "long"
    ) % F.lit(buckets)


def dsir_bucket_weights(
    docs: DataFrame,
    is_target: Column,
    buckets: int = 512,
    text: str = "text",
) -> DataFrame:
    """(bucket, target_cnt, raw_cnt, weight_fp): the hashed-feature
    importance model. ``weight_fp`` = round(SCALE * (ln((t+1)/(T+B)) -
    ln((r+1)/(R+B)))) — add-one smoothing over the ``buckets``-way
    multinomial, frozen to int64 fixed point. One explode + one hash
    aggregate over the corpus; totals ride a 1-row broadcast join."""
    grams = docs.select(
        is_target.alias("is_target"),
        F.explode(_grams(text)).alias("gram"),
    )
    per_bucket = grams.groupBy(
        _bucket(F.col("gram"), buckets).alias("bucket")
    ).agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0))
        .cast("long")
        .alias("target_cnt"),
        F.count("*").cast("long").alias("raw_cnt"),
    )
    totals = per_bucket.agg(
        F.sum("target_cnt").cast("long").alias("t_total"),
        F.sum("raw_cnt").cast("long").alias("r_total"),
    )
    b = F.lit(float(buckets))
    return per_bucket.join(F.broadcast(totals)).select(
        "bucket",
        "target_cnt",
        "raw_cnt",
        F.round(
            F.lit(float(SCALE))
            * (
                F.log(
                    (F.col("target_cnt") + F.lit(1)).cast("double")
                    / (F.col("t_total").cast("double") + b)
                )
                - F.log(
                    (F.col("raw_cnt") + F.lit(1)).cast("double")
                    / (F.col("r_total").cast("double") + b)
                )
            )
        )
        .cast("long")
        .alias("weight_fp"),
    )


def dsir_scores(
    docs: DataFrame,
    is_target: Column,
    buckets: int = 512,
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """(doc_id, n_grams, score_fp): per-document importance weight as the
    integer sum of its grams' bucket weights. Buckets never seen in the
    corpus cannot appear here (every gram hit pass (1) too), so the join
    is total — an inner broadcast join loses no rows."""
    weights = dsir_bucket_weights(docs, is_target, buckets, text)
    exploded = docs.select(
        F.col(id_col), F.explode(_grams(text)).alias("gram")
    ).select(F.col(id_col), _bucket(F.col("gram"), buckets).alias("bucket"))
    return (
        exploded.join(F.broadcast(weights.select("bucket", "weight_fp")),
                      "bucket")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum("weight_fp").cast("long").alias("score_fp"),
        )
    )


def dsir_resample(
    docs: DataFrame,
    is_target: Column,
    k: int = 100,
    buckets: int = 512,
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Top-k most target-like documents by integer importance score,
    deterministic total order (score_fp desc, doc_id asc) — TakeOrdered,
    never a global sort of the corpus."""
    scores = dsir_scores(docs, is_target, buckets, id_col, text)
    return (
        scores.orderBy(F.desc("score_fp"), F.asc(id_col))
        .limit(k)
        .select(
            id_col,
            "n_grams",
            "score_fp",
            F.round(F.col("score_fp") / F.lit(float(SCALE)), 4).alias(
                "score"
            ),
        )
    )
