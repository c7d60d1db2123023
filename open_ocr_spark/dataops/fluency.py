"""Reference-corpus n-gram fluency scoring — the LM-based quality
filter of CCNet-style pipelines (Wenzek et al., LREC 2020: a KenLM
5-gram scores every paragraph; low-fluency text is dropped or
down-tiered).

This engine's variant keeps the architecture (train a reference n-gram
model, score the whole corpus against it, gate on the score) but makes
the score ENGINE-EXACT: instead of a float log-perplexity (whose sum
order varies across partitions), each adjacent token pair contributes
the scaled integer conditional probability

    pair_score = (SCALE * c(w1 w2)) DIV c(w1 ·)

where c(w1 w2) is the bigram's count in the reference corpus and
c(w1 ·) the count of bigrams starting with w1 (so scores normalize:
sum over w2 of p(w2|w1) ~= 1).  Unseen bigrams score 0.  A document's
fluency is the integer mean over its pairs — a pure function of
(corpus, reference) identical at any parallelism and reproducible in
DuckDB for the value-hash gate.  A production deployment would swap the
per-pair expression for a smoothed log-prob; every join and aggregate
stays the same.

Scale shape: model training is two hash aggregates over the reference
corpus' bigram stream (uniform token keys; map-side combine collapses
Zipf skew before the exchange — the same argument as the host-count
aggregates).  Scoring is one shuffle equi-join of the corpus' bigram
stream against the model on (w1, w2); the model is Zipf-small relative
to the corpus (vocab², bounded by reference size) and broadcastable
when the reference is a sample, which is exactly how CCNet deploys it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_ocr_spark.dataops.words import split_spaces

SCALE = 1_000_000


def _bigrams(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, pos, w1, w2): the adjacent-token-pair stream."""
    toks = split_spaces(F.coalesce(F.col(text_col), F.lit("")))
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.struct(
                F.element_at(toks, i + 1).alias("w1"),
                F.element_at(toks, i + 2).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    return docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(pairs).alias("pos", "p")
    ).select("doc_id", "pos", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))


def train_bigram_model(
    ref_docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(w1, w2, c2, c1): reference bigram counts with their
    first-token conditioning totals pre-joined (c1 = sum of c2 over w2,
    i.e. the count of reference bigrams starting with w1)."""
    bg = (
        _bigrams(ref_docs, text_col, id_col)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
    )
    c1 = bg.groupBy("w1").agg(F.sum("c2").alias("c1"))
    return bg.join(c1, "w1").select("w1", "w2", "c2", "c1")


def fluency_scores(
    docs: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_model: bool = False,
) -> DataFrame:
    """(doc_id, n_pairs, fluency): integer mean of SCALE-scaled reference
    conditional probabilities over the document's adjacent token pairs;
    unseen pairs contribute 0; documents with fewer than 2 tokens score
    fluency 0 with n_pairs 0.  Set broadcast_model=True when the
    reference is a small sample (the CCNet deployment shape)."""
    m = model.select(
        "w1", "w2", (F.lit(SCALE) * F.col("c2")).alias("_num"), "c1"
    )
    if broadcast_model:
        m = F.broadcast(m)
    pairs = _bigrams(docs, text_col, id_col)
    scored = pairs.join(m, ["w1", "w2"], "left").select(
        "doc_id",
        F.coalesce(
            F.expr("_num DIV c1"), F.lit(0).cast("long")
        ).alias("pair_score"),
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_pairs"),
        F.expr("sum(pair_score) DIV count(*)").alias("fluency"),
    )
    ids = docs.select(F.col(id_col).alias("doc_id"))
    return ids.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_pairs", F.lit(0).cast("long")).alias("n_pairs"),
        F.coalesce("fluency", F.lit(0).cast("long")).alias("fluency"),
    )


def fluency_buckets(
    docs: DataFrame,
    model: DataFrame,
    groups: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """(doc_id, lang, fluency, bucket): CCNet's head/middle/tail tiers
    (Wenzek et al., LREC 2020 §4.4 — the corpus is split per language
    into perplexity terciles; "head" is the most-fluent third).

    Bucket assignment is VALUE-based, not rank-based, so it needs no
    per-language global sort: the per-(lang, fluency) histogram (a hash
    aggregate; distinct integer scores, tiny next to the corpus) gets a
    descending cumulative count by a window over that SMALL table only,
    and every document joins its histogram row back on (lang, fluency) —
    a broadcast join at corpus scale.  Frozen tie policy: a tie group
    belongs to the bucket its LAST member's descending rank falls in
    (cum <= ceil(k*n/groups) checked at the group's cumulative count),
    so ties never straddle buckets and the result is independent of
    partitioning.  Bucket names for groups=3: head / middle / tail.
    """
    names = {3: ["head", "middle", "tail"]}.get(
        groups, [f"b{i}" for i in range(groups)]
    )
    scores = fluency_scores(
        docs, model, text_col, id_col, broadcast_model=True
    ).join(
        docs.select(F.col(id_col).alias("doc_id"), F.col(lang_col).alias("lang")),
        "doc_id",
    )
    hist = scores.groupBy("lang", "fluency").agg(
        F.count("*").alias("cnt")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("fluency"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("lang")
    cum = hist.select(
        "lang",
        "fluency",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )
    bucket = F.lit(names[-1])
    for k in range(groups - 1, 0, -1):
        bucket = F.when(
            F.col("cum") * groups <= k * F.col("n") + (groups - 1),
            F.lit(names[k - 1]),
        ).otherwise(bucket)
    # cum*groups <= k*n + (groups-1)  <=>  cum <= ceil(k*n/groups),
    # integer-exact (no division).
    cuts = cum.select("lang", "fluency", bucket.alias("bucket"))
    return scores.join(F.broadcast(cuts), ["lang", "fluency"]).select(
        "doc_id", "lang", "fluency", "bucket"
    )
