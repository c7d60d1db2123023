"""N-gram fluency scoring: hand-computed conditional probabilities,
unseen-pair and short-doc edges, parallelism invariance."""

import re

import pyspark.sql.functions as F
import pytest

from open_ocr_spark.dataops.fluency import (
    SCALE,
    fluency_scores,
    train_bigram_model,
)


def _score(spark, ref_rows, doc_rows, broadcast=False):
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    docs = spark.createDataFrame(doc_rows, "doc_id long, text string")
    model = train_bigram_model(ref)
    return {
        r["doc_id"]: (r["n_pairs"], r["fluency"])
        for r in fluency_scores(
            docs, model, broadcast_model=broadcast
        ).collect()
    }


def test_hand_computed_conditionals(spark):
    # reference: "a b a b a c" -> bigrams ab, ba, ab, ba, ac
    # c(a .) = 3: p(b|a) = 2/3, p(c|a) = 1/3;  c(b .) = 2: p(a|b) = 1
    ref = [(0, "a b a b a c")]
    got = _score(
        spark,
        ref,
        [
            (1, "a b"),      # one pair: floor(1e6*2/3) = 666666
            (2, "b a"),      # p(a|b)=1 -> 1000000
            (3, "a c a b"),  # pairs ac(333333), ca(unseen 0), ab(666666)
            (4, "z z"),      # unseen first token -> 0
        ],
    )
    assert got[1] == (1, SCALE * 2 // 3)
    assert got[2] == (1, SCALE)
    assert got[3] == (3, (SCALE // 3 + 0 + SCALE * 2 // 3) // 3)
    assert got[4] == (1, 0)


def test_short_docs_and_nulls(spark):
    got = _score(
        spark, [(0, "a b c")], [(1, "single"), (2, None), (3, "")]
    )
    assert got[1] == (0, 0)
    assert got[2] == (0, 0)
    assert got[3] == (0, 0)


def test_reference_scores_high_on_itself(spark):
    # every pair of the reference is in the model, so fluency > 0 and
    # pair probabilities normalize: mean score <= SCALE
    ref = [(i, f"tok{i % 3} tok{(i + 1) % 3} tok{(i + 2) % 3}") for i in range(9)]
    got = _score(spark, ref, ref)
    assert all(0 < f <= SCALE for _, f in got.values())


def test_parallelism_invariance_and_broadcast_equivalence(spark):
    rows = [
        (i, " ".join(f"w{(i * 5 + k) % 11}" for k in range(20)))
        for i in range(50)
    ]
    ref = [r for r in rows if r[0] % 10 == 0]
    base = _score(spark, ref, rows)
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(16)
    model = train_bigram_model(
        spark.createDataFrame(ref, "doc_id long, text string").repartition(8)
    )
    redistributed = {
        r["doc_id"]: (r["n_pairs"], r["fluency"])
        for r in fluency_scores(df, model, broadcast_model=True).collect()
    }
    assert base == redistributed


def test_broadcast_model_plan(spark):
    from tests.test_plan_shape import plan_of

    rows = [(i, "a b c d") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    model = train_bigram_model(df)
    plan = plan_of(fluency_scores(df, model, broadcast_model=True))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("query", ["ngram_fluency", "ccnet_buckets"])
def test_registered_queries_broadcast_the_model(spark, query):
    """AQE alone broadcast the model join on only some runs of the same
    query; with the hint the (w1, w2) model join is a broadcast in every
    final adaptive plan, and no join sorts. Each repeat is a new
    DataFrame, so AQE replans it."""
    from open_ocr_spark.queries import QUERIES
    from tests.test_plan_shape import SF

    for _ in range(3):
        df = QUERIES[query](spark, SF)
        df.collect()
        final = df._jdf.queryExecution().executedPlan().finalPhysicalPlan()
        plan = final.toString()
        assert re.search(r"BroadcastHashJoin \[w1#\d+, w2#\d+\]", plan)
        assert "SortMergeJoin" not in plan
