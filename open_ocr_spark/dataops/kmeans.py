"""Integer-exact k-means clustering + SemDeDup-style semantic dedup over
`embeddings(vec_id, embedding array<float>, label)`.

k-means (Lloyd's) is the clustering tier a training-data pipeline uses to
organize a corpus by semantic region — cluster-balanced sampling, domain
discovery, and (the second operator here) SemDeDup-style semantic dedup
(Abbas et al. 2023, arXiv:2303.09540): near-duplicate pruning restricted
to WITHIN k-means clusters, which turns the quadratic all-pairs cosine
search into k independent quadratic-in-(n/k) problems — the standard way
embedding-level dedup survives web scale.

Distributed-exactness design (same policy as dataops/pagerank.py's
scaled-integer ranks): all Lloyd state lives in 64-bit integers —
embeddings quantize to round(v * 10^4) longs, centroids are floor-div
integer means, and the assignment argmin compares the integer score
||c||^2 - 2<v,c> (the ||v||^2 term is constant per vector and cannot
change the argmin, so Euclidean assignment needs no square root).
Integer addition is associative, so centroids and assignments are
bit-identical at ANY partition count or aggregation order — pytest pins
this — and an external SQL engine can replay the whole training loop
exactly: the DuckDB oracle unrolls every iteration as a CTE (the
host_pagerank r0..r5 pattern), double arithmetic staying exact because
every intermediate is an integer < 2^53.

Scale notes: the centroid table is k×dim longs — broadcast (SemDeDup's
k ~ 10^4-10^5 at 10^8+ docs is still tens of MB, well inside executor
broadcast budgets); each Lloyd iteration is one broadcast-join scan plus
one posexplode groupBy on uniform (cell, pos) keys with map-side
partials; the in-cluster pair join shuffles on cell and is quadratic
only within a cluster, which choosing k proportional to n bounds.
The quantized vector table and the per-iteration centroid tables are
pinned (eager localCheckpoint) because they feed 2·iters+2 consumers —
the same multi-consumer-subtree policy dedup.py measured out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10_000  # 4 decimal places survive quantization


def _int_dot(a, b):
    """Exact integer dot product of two array<long> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def quantize(embeddings: DataFrame) -> DataFrame:
    """Add `vq: array<long>` = round(v * 10^4) per component. Round
    half-away-from-zero in both Spark and DuckDB, so the oracle's
    list_transform(embedding, v -> round(v::DOUBLE * 10000, 0)) produces
    the same integers."""
    return embeddings.withColumn(
        "vq",
        F.transform(
            "embedding",
            lambda v: F.round(v.cast("double") * SCALE, 0).cast("long"),
        ),
    )


def _int_means(members: DataFrame, key: str = "cell") -> DataFrame:
    """Element-wise floor(sum/count) integer mean of `vq` per `key` —
    posexplode + two groupBys on uniform keys, no Python. floor of an
    exact-integer ratio is engine-independent ONLY while both operands
    stay below 2^53 (long/count division runs in double); the guard
    turns a violation into a loud executor-side error instead of silent
    drift vs the DuckDB oracle (ADVICE r4)."""
    exact_sum = F.when(
        F.abs(F.sum("val")) < F.lit(2**53), F.sum("val")
    ).otherwise(
        F.raise_error(
            F.format_string(
                "kmeans integer mean overflow: |sum(vq)|=%d >= 2^53 "
                "for a (cell,pos) group; floor(sum/count) is no longer "
                "exact — lower SCALE or shard the cell",
                F.abs(F.sum("val")),
            )
        )
    )
    return (
        members.select(key, F.posexplode("vq").alias("pos", "val"))
        .groupBy(key, "pos")
        .agg(F.floor(exact_sum / F.count("*")).alias("m"))
        .groupBy(key)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("_pairs"))
        .select(key, F.transform("_pairs", lambda s: s["m"]).alias("cq"))
    )


def _assign(q: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: argmin over cells of the exact
    integer score ||c||^2 - 2<v,c>, ties to the smallest cell id.
    Centroid norms are computed once on the tiny broadcast side; the
    argmin is a codegen'd min_by hash aggregate."""
    with_norm = cents.withColumn("_cn2", _int_dot(F.col("cq"), F.col("cq")))
    scored = q.select("vec_id", "vq").crossJoin(F.broadcast(with_norm)).select(
        "vec_id",
        "cell",
        (F.col("_cn2") - F.lit(2) * _int_dot(F.col("vq"), F.col("cq"))).alias(
            "score"
        ),
    )
    return scored.groupBy("vec_id").agg(
        F.min_by("cell", F.struct(F.col("score"), F.col("cell"))).alias("cell")
    )


def kmeans_fit(
    embeddings: DataFrame, iters: int = 2
) -> tuple[DataFrame, DataFrame]:
    """(centroids, assignments) after `iters` Lloyd updates.

    Seeding is deterministic and data-derived: the integer mean per
    `label` (cell = label), the same label-seeded build ivf_index uses —
    no RNG state to ship across engines. Then `iters` rounds of
    assign → integer-mean update; the returned assignment is against the
    final centroids. A cell that loses all members simply drops out of
    the mean (identical GROUP BY semantics in the SQL replay).
    """
    q = quantize(embeddings).select("vec_id", "label", "vq").localCheckpoint(
        eager=True
    )
    cents = _int_means(q.select(F.col("label").alias("cell"), "vq"))
    for _ in range(iters):
        cents = cents.localCheckpoint(eager=True)
        asg = _assign(q, cents)
        cents = _int_means(q.join(asg, "vec_id").select("cell", "vq"))
    cents = cents.localCheckpoint(eager=True)
    return cents, _assign(q, cents)


def kmeans_assignments(embeddings: DataFrame, iters: int = 2) -> DataFrame:
    """(vec_id, cell) for every vector — the hash-checkable surface of the
    whole training loop: any divergence in quantization, seeding, means,
    or argmin tie-breaks flips some assignment."""
    _, asg = kmeans_fit(embeddings, iters=iters)
    return asg


def semantic_dedup(
    embeddings: DataFrame, threshold: float = 0.99, iters: int = 2
) -> DataFrame:
    """SemDeDup: (vec_id, cell, kept). A vector is dropped when a
    SMALLER-id vector in the SAME k-means cell has cosine >= threshold
    (min-id representative survives, matching every text dedup tier's
    rep rule). Cosine runs on the raw float embeddings in float64 with
    4dp output rounding — the exact formulation embedding_near_dup's
    oracle already hash-checks cross-engine.

    The pair join is an equi-join on cell: candidate volume is
    sum-of-squares of CLUSTER sizes, never n^2 over the corpus — the
    SemDeDup contract. Recall vs the all-pairs form misses only
    near-dup pairs that k-means split across cells (measured in pytest
    against embedding_cosine_pairs)."""
    from open_ocr_spark.dataops.similarity import cosine_sim

    _, asg = kmeans_fit(embeddings, iters=iters)
    # with_cell feeds three consumers (pair sides a and b, the output
    # join): pin the assignment so the broadcast-argmin subtree — the
    # expensive stage — runs once, per the module's pinning policy
    asg = asg.localCheckpoint(eager=True)
    with_cell = embeddings.join(asg, "vec_id").select(
        "vec_id", "cell", "embedding"
    )
    a = with_cell.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("_ea"), "cell"
    )
    b = with_cell.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("_eb"), "cell"
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim", F.round(cosine_sim(F.col("_ea"), F.col("_eb")), 4))
        .filter(F.col("cos_sim") >= threshold)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return with_cell.join(dropped, "vec_id", "left").select(
        "vec_id", "cell", F.col("_dropped").isNull().alias("kept")
    )
