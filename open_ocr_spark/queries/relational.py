"""Registry: the relational operator surface (SURVEY.md §2.B) over the
TPC-H-ish tables — joins of every shape, aggregation/rollup/cube, windows,
set ops, sessionization, percentiles, as-of and range joins."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from open_ocr_spark.queries._shared import _t

ORACLES: dict[str, str] = {}


def q_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + predicate + projection: pushdown-eligible filter."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R"))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "net_price"
            ),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregation: partial+final hash agg, map-side
    combine automatic."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_join_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join + agg + top-k: customer is the broadcast side (small dim);
    deterministic tiebreak before the limit."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


def q_join_region_nation_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop broadcast join chain over the dimension tables."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy("region_name")
    )


def q_window_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedupe window (latest-per-key): row_number over (ts desc,
    event_id desc) — the same operator the extraction pipeline uses for
    latest-crawl-per-url."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", F.round("value", 4).alias("value"))
        .orderBy("user_id")
    )


def q_window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered analytic window: per-customer running order total."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    ).orderBy("o_custkey", "o_orderkey")


def q_anti_join_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join — THE resume operator (SURVEY §2.B): documents with
    no embedding row, i.e. work not yet done."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    return (
        docs.join(emb, docs.doc_id == emb.vec_id, "left_anti")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


def q_semi_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers that have at least one event identity
    (user_id key space)."""
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.join(ev, cust.c_custkey == ev.user_id, "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


def q_rollup_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets surface: rollup (source, lang) with counts."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.rollup("source", "lang")
        .agg(F.count("*").alias("docs"), F.sum("n_chars").alias("chars"))
        .orderBy(
            F.col("source").asc_nulls_first(), F.col("lang").asc_nulls_first()
        )
    )


def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation: exact distinct users and event types."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_event_types"),
        F.count("*").alias("n_events"),
    )


def q_daily_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time bucketing: tumbling 1-day windows via date_trunc (the batch
    analog of a streaming tumbling window), value stats per day+type."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.round(F.min("value"), 4).alias("min_value"),
            F.round(F.max("value"), 4).alias("max_value"),
        )
        .orderBy("day", "event_type")
    )


def q_set_except_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation: sources present in documents but absent from the
    high-quality slice (n_chars >= 200) — EXCEPT semantics."""
    docs = _t(spark, sf_dir, "documents")
    all_sources = docs.select("source").distinct()
    hq_sources = docs.filter(F.col("n_chars") >= 200).select("source").distinct()
    return all_sources.exceptAll(hq_sources).orderBy("source")


def q_union_lang_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName of two disjoint slices re-aggregated — the manifest
    combination pattern."""
    docs = _t(spark, sf_dir, "documents")
    small = docs.filter(F.col("n_chars") < 200)
    large = docs.filter(F.col("n_chars") >= 200)
    tagged = small.withColumn("bucket", F.lit("small")).unionByName(
        large.withColumn("bucket", F.lit("large"))
    )
    return (
        tagged.groupBy("lang", "bucket")
        .agg(F.count("*").alias("docs"))
        .orderBy("lang", "bucket")
    )


def q_fact_fact_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big equi-join (lineitem ⋈ orders on orderkey): too large to
    broadcast → shuffle hash/sort-merge join, Catalyst's choice, AQE-tuned.
    Revenue by order status."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("o_orderstatus")
    )


def q_top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped 3-way join (customer ⋈ orders ⋈ lineitem) with
    selective filters on both sides and top-k by revenue."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cutoff = "1995-03-15"
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, cust.c_custkey == orders.o_custkey)
        .filter(F.col("o_orderdate") < cutoff)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy("o_orderkey", F.to_date("o_orderdate").alias("o_orderdate"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q_salted_host_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-safe salting pattern PROVEN equivalent: two-phase agg by
    (host, salt-of-key) then host must give exactly the plain GROUP BY
    answer (the oracle is the plain form)."""
    docs = _t(spark, sf_dir, "documents")
    with_url = docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
            F.col("doc_id"),
        ).alias("url"),
        "n_chars",
    )
    partial = (
        with_url.withColumn("host", F.parse_url(F.col("url"), F.lit("HOST")))
        .withColumn("_salt", F.pmod(F.xxhash64("url"), F.lit(16)))
        .groupBy("host", "_salt")
        .agg(F.count("*").alias("_docs"), F.sum("n_chars").alias("_chars"))
    )
    return (
        partial.groupBy("host")
        .agg(F.sum("_docs").alias("docs"), F.sum("_chars").alias("chars"))
        .orderBy("host")
    )


def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE_NONE: HLL sketch (approx_count_distinct) — engine-specific
    estimates; sanity-gated by the rows-only check and compared to exact
    in tests."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap): lag + windowed cumsum +
    agg; session_window_stats is its merging-window twin."""
    from open_ocr_spark.dataops.sessions import sessionize_events

    return sessionize_events(_t(spark, sf_dir, "events"))


def q_session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window sessionization
    (dataops.sessions.session_window_stats over the batch events table;
    the watermark it sets is inert on a batch). Epoch projection so the
    oracle hash is timestamp-render independent. Boundary rule (probed
    live): session_window merges an event landing exactly on the previous
    window's close — a new session starts only when the gap EXCEEDS the
    gap duration, the same > rule as the lag-cumsum sessionizer, and the
    oracle encodes it identically."""
    from open_ocr_spark.dataops.sessions import session_window_stats

    s = session_window_stats(_t(spark, sf_dir, "events"), gap_seconds=1800)
    return s.select(
        "user_id",
        F.unix_timestamp(F.col("session_start").cast("timestamp"))
        .cast("long")
        .alias("start_epoch"),
        F.unix_timestamp(F.col("session_end").cast("timestamp"))
        .cast("long")
        .alias("close_epoch"),
        "n_events",
        "sum_value",
    ).orderBy("user_id", "start_epoch")


def q_cube_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full grouping-sets surface: cube over (source, lang)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.cube("source", "lang")
        .agg(F.count("*").alias("docs"))
        .orderBy(
            F.col("source").asc_nulls_first(), F.col("lang").asc_nulls_first()
        )
    )


def q_intersect_user_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: user ids that are both event actors and customer keys."""
    ev = _t(spark, sf_dir, "events").select(F.col("user_id").alias("id"))
    cust = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("id"))
    return ev.intersect(cust).orderBy("id")


def q_window_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics: seconds since the user's previous event."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    prev_ts = F.lag("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        F.when(
            prev_ts.isNotNull(),
            (F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)).cast("long"),
        ).alias("gap_seconds"),
    ).orderBy("user_id", "event_id")


def q_host_doc_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function surface: synthesize per-source urls, extract the
    host JVM-side with parse_url (the host-salting key, SURVEY §2.C), and
    aggregate. Oracle reconstructs the host without parse_url."""
    docs = _t(spark, sf_dir, "documents")
    with_url = docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
            F.col("doc_id"),
        ).alias("url"),
        "n_chars",
    )
    return (
        with_url.groupBy(F.parse_url(F.col("url"), F.lit("HOST")).alias("host"))
        .agg(F.count("*").alias("docs"), F.sum("n_chars").alias("chars"))
        .orderBy("host")
    )


def q_orders_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery + HAVING through the SQL surface: orders above the
    global average price, grouped with a post-aggregation filter. Catalyst
    plans the scalar subquery as a broadcast one-row join — no per-row
    re-evaluation.

    All comparisons run in EXACT integer cents (price*100 floored to
    BIGINT, compared as price_cents * n > sum_cents): a float average is
    summation-order-dependent in its last bits, so a sharp `> avg(double)`
    boundary can flip rows between engines — the same hazard class the
    quality-score floor-scale fix documents."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        WITH cents AS (
            SELECT o_orderpriority,
                   CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
            FROM orders_v
        ),
        tot AS (SELECT sum(c) AS s, count(*) AS n FROM cents)
        SELECT o_orderpriority, count(*) AS n_orders,
               floor(sum(c) / count(*) + 0.5) / CAST(100 AS DOUBLE)
                   AS avg_price
        FROM cents, tot
        WHERE c * n > s
        GROUP BY o_orderpriority
        HAVING count(*) > 10
        ORDER BY o_orderpriority
        """
    )


def q_pivot_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation): order counts per priority × status.
    Status values pinned explicitly — at scale an unpinned pivot runs an
    extra distinct-values job over the whole table before planning."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
        .orderBy("o_orderpriority")
    )


def q_percentile_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (sort-based aggregate) with linear interpolation —
    matches DuckDB's quantile_cont. The approx path for 100 TB is
    approx_percentile (t-digest); the exact form is the oracle-checkable
    one."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.25)), 4).alias("p25"),
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.75)), 4).alias("p75"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


def q_grouping_sets_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — the general form behind rollup/cube, via spark.sql."""
    _t(spark, sf_dir, "documents").createOrReplaceTempView("documents_gs")
    return spark.sql(
        """
        SELECT source, lang, count(*) AS n_docs, sum(n_chars) AS total_chars
        FROM documents_gs
        GROUP BY GROUPING SETS ((source, lang), (source), ())
        ORDER BY source ASC NULLS FIRST, lang ASC NULLS FIRST
        """
    )


def q_full_outer_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: users who purchased vs users who clicked — either
    side may be missing. Both sides are pre-aggregated before the join
    (shuffle carries one row per user, not per event)."""
    e = _t(spark, sf_dir, "events")
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("purchase_value"),
        )
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    return (
        purchases.join(clicks, "user_id", "full_outer")
        .select(
            "user_id",
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
            F.coalesce("purchase_value", F.lit(0.0)).alias("purchase_value"),
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
        )
        .orderBy("user_id")
    )


def q_ntile_order_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ntile ranking — via distributed_ntile, NOT an unpartitioned
    window: a global window funnels every row through one task, while this
    form computes the exact same bucket assignment with a range exchange +
    parallel per-partition ranks + a metadata-sized offset broadcast
    (dataops/ranking.py)."""
    from open_ocr_spark.dataops.ranking import distributed_ntile

    o = _t(spark, sf_dir, "orders")
    return (
        distributed_ntile(
            o, 4, ["o_totalprice", "o_orderkey"], out_col="quartile"
        )
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("quartile")
    )


def q_stats_corr_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (corr / covar_samp / stddev_samp) — single
    pass, map-side partial aggregation like any hash agg."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
                "corr_qty_price"
            ),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
                "covar_qty_price"
            ),
            F.round(F.stddev_samp("l_extendedprice"), 2).alias("stddev_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


def q_range_join_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (range) self-join: per user, count follower events within 300 s
    strictly after an event. A naive theta-join is a per-user cross
    product; the scale path buckets time into window-sized bins and turns
    the band predicate into an equi-join on (user_id, bucket) with each
    probe row exploded into its two candidate bins — shuffle-partitionable,
    no cartesian node (the same trick SNIPPETS.md shows for interval
    joins)."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.col("ts").alias("a_ts")
    )
    bucket = F.floor(F.unix_timestamp("a_ts") / 300)
    left = e.withColumn("bucket", bucket)
    probe = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.col("ts").alias("b_ts"))
        .withColumn(
            "bucket",
            F.explode(
                F.array(
                    F.floor(F.unix_timestamp("b_ts") / 300),
                    F.floor(F.unix_timestamp("b_ts") / 300) - 1,
                )
            ),
        )
    )
    pairs = left.join(probe, ["user_id", "bucket"]).filter(
        (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 300 SECONDS"))
    )
    return (
        pairs.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("user_id")
    )


def q_asof_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (dataops/asof.py): each event gets the most recent order
    of the same user at-or-before the event time — union + one running
    window, no range cross product. Right side pre-deduped on (key, ts)
    as the operator (and DuckDB's ASOF) requires."""
    from open_ocr_spark.dataops.asof import asof_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("ots"),
            "o_orderkey",
        )
    )
    joined = asof_join(
        e, o, on="user_id", left_ts="ts", right_ts="ots",
        value_cols=["o_orderkey"],
    )
    return joined.select(
        "event_id", "user_id", F.col("o_orderkey").alias("last_order_key")
    ).orderBy("event_id")


def q_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group: highest-value 3 orders per customer via a
    partitioned row_number window (one shuffle, per-partition sort;
    unlike global top-k this never funnels to one task)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "o_custkey", "rk", "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
        )
        .orderBy("o_custkey", "rk")
    )


ORACLES["scan_filter_project"] = """
        SELECT l_orderkey, l_linenumber,
               round(l_extendedprice * (1 - l_discount), 4) AS net_price
        FROM lineitem
        WHERE l_quantity > 45 AND l_returnflag = 'R'
        ORDER BY l_orderkey, l_linenumber
    """


ORACLES["agg_pricing_summary"] = """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_discount), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """


ORACLES["join_top_customers"] = """
        SELECT c_custkey, c_name,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_custkey, c_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 10
    """


ORACLES["join_region_nation_customer"] = """
        SELECT r_name AS region_name,
               count(*) AS n_customers,
               round(sum(c_acctbal), 2) AS total_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
        ORDER BY region_name
    """


ORACLES["window_latest_event_per_user"] = """
        SELECT user_id, event_id, event_type, round(value, 4) AS value
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
        ORDER BY user_id
    """


ORACLES["window_running_revenue"] = """
        SELECT o_custkey, o_orderkey,
               round(sum(o_totalprice) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate ASC, o_orderkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                   AS running_total
        FROM orders
        ORDER BY o_custkey, o_orderkey
    """


ORACLES["anti_join_resume"] = """
        SELECT doc_id, lang, source
        FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)
        ORDER BY doc_id
    """


ORACLES["semi_join_events"] = """
        SELECT c_custkey, c_mktsegment
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
        ORDER BY c_custkey
    """


ORACLES["rollup_source_lang"] = """
        SELECT source, lang, count(*) AS docs,
               CAST(sum(n_chars) AS BIGINT) AS chars
        FROM documents
        GROUP BY ROLLUP (source, lang)
        ORDER BY source ASC NULLS FIRST, lang ASC NULLS FIRST
    """


ORACLES["distinct_counts"] = """
        SELECT count(DISTINCT user_id) AS n_users,
               count(DISTINCT event_type) AS n_event_types,
               count(*) AS n_events
        FROM events
    """


ORACLES["daily_event_stats"] = """
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
               count(*) AS n,
               round(sum(value), 4) AS sum_value,
               round(min(value), 4) AS min_value,
               round(max(value), 4) AS max_value
        FROM events
        GROUP BY day, event_type
        ORDER BY day, event_type
    """


ORACLES["set_except_sources"] = """
        SELECT source FROM documents
        EXCEPT
        SELECT source FROM documents WHERE n_chars >= 200
        ORDER BY source
    """


ORACLES["union_lang_totals"] = """
        SELECT lang, bucket, count(*) AS docs FROM (
            SELECT lang, 'small' AS bucket FROM documents WHERE n_chars < 200
            UNION ALL
            SELECT lang, 'large' AS bucket FROM documents WHERE n_chars >= 200
        )
        GROUP BY lang, bucket
        ORDER BY lang, bucket
    """


ORACLES["fact_fact_join_revenue"] = """
        SELECT o_orderstatus,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """


ORACLES["top_unshipped_orders"] = """
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """


ORACLES["salted_host_counts"] = """
        SELECT source || '.example.com' AS host,
               count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars
        FROM documents
        GROUP BY host
        ORDER BY host
    """


ORACLES["sessionize_events"] = """
        WITH gaps AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ), sess AS (
            SELECT *, CAST(sum(new_sess) OVER (
                PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                AS session_id
            FROM gaps
        )
        SELECT user_id, session_id,
               count(*) AS n_events,
               round(sum(value), 4) AS sum_value,
               CAST(floor(min(epoch(ts))) AS BIGINT) AS start_epoch,
               CAST(floor(max(epoch(ts))) AS BIGINT) AS end_epoch
        FROM sess
        GROUP BY user_id, session_id
        ORDER BY user_id, session_id
    """


ORACLES["session_window_stats"] = """
        WITH gaps AS (
            SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
        ), sess AS (
            SELECT *, sum(new_sess) OVER (
                PARTITION BY user_id ORDER BY ts ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS session_id
            FROM gaps
        )
        SELECT user_id,
               CAST(floor(min(epoch(ts))) AS BIGINT) AS start_epoch,
               CAST(floor(max(epoch(ts))) AS BIGINT) + 1800 AS close_epoch,
               count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM sess
        GROUP BY user_id, session_id
        ORDER BY user_id, start_epoch
    """


ORACLES["cube_source_lang"] = """
        SELECT source, lang, count(*) AS docs
        FROM documents
        GROUP BY CUBE (source, lang)
        ORDER BY source ASC NULLS FIRST, lang ASC NULLS FIRST
    """


ORACLES["intersect_user_ids"] = """
        SELECT user_id AS id FROM events
        INTERSECT
        SELECT c_custkey AS id FROM customer
        ORDER BY id
    """


ORACLES["window_event_gaps"] = """
        SELECT user_id, event_id,
               CAST(floor(epoch(ts)) - floor(epoch(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC)))
                   AS BIGINT) AS gap_seconds
        FROM events
        ORDER BY user_id, event_id
    """


ORACLES["host_doc_counts"] = """
        SELECT source || '.example.com' AS host,
               count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars
        FROM documents
        GROUP BY host
        ORDER BY host
    """


ORACLES["orders_above_avg"] = """
        WITH cents AS (
            SELECT o_orderpriority,
                   CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
            FROM orders
        ),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS s, count(*) AS n FROM cents)
        SELECT o_orderpriority, count(*) AS n_orders,
               floor(sum(c) / count(*) + 0.5) / 100.0 AS avg_price
        FROM cents, tot
        WHERE c * n > s
        GROUP BY o_orderpriority
        HAVING count(*) > 10
        ORDER BY o_orderpriority
    """


ORACLES["pivot_order_status"] = """
        SELECT o_orderpriority,
               count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
               count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
               count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """


ORACLES["percentile_order_value"] = """
        SELECT o_orderpriority,
               round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
               round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
               round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
               count(*) AS n_orders
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """


ORACLES["grouping_sets_docs"] = """
        SELECT source, lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY GROUPING SETS ((source, lang), (source), ())
        ORDER BY source ASC NULLS FIRST, lang ASC NULLS FIRST
    """


ORACLES["full_outer_user_activity"] = """
        WITH p AS (
            SELECT user_id, count(*) AS n_purchases,
                   round(sum(value), 2) AS purchase_value
            FROM events WHERE event_type = 'purchase' GROUP BY user_id
        ), c AS (
            SELECT user_id, count(*) AS n_clicks
            FROM events WHERE event_type = 'click' GROUP BY user_id
        )
        SELECT coalesce(p.user_id, c.user_id) AS user_id,
               coalesce(n_purchases, 0) AS n_purchases,
               coalesce(purchase_value, 0.0) AS purchase_value,
               coalesce(n_clicks, 0) AS n_clicks
        FROM p FULL OUTER JOIN c ON p.user_id = c.user_id
        ORDER BY user_id
    """


ORACLES["ntile_order_quartiles"] = """
        SELECT quartile, count(*) AS n_orders,
               round(min(o_totalprice), 2) AS min_price,
               round(max(o_totalprice), 2) AS max_price
        FROM (
            SELECT o_totalprice, ntile(4) OVER (
                ORDER BY o_totalprice ASC, o_orderkey ASC) AS quartile
            FROM orders
        )
        GROUP BY quartile
        ORDER BY quartile
    """


ORACLES["stats_corr_revenue"] = """
        SELECT l_returnflag,
               round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
               round(covar_samp(l_quantity, l_extendedprice), 2)
                   AS covar_qty_price,
               round(stddev_samp(l_extendedprice), 2) AS stddev_price,
               count(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """


ORACLES["range_join_event_pairs"] = """
        SELECT a.user_id, count(*) AS n_pairs
        FROM events a JOIN events b ON a.user_id = b.user_id
         AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 300 SECONDS
        GROUP BY a.user_id
        ORDER BY a.user_id
    """


ORACLES["asof_last_order"] = """
        WITH o1 AS (
            SELECT o_custkey AS user_id, o_orderdate AS ots,
                   max(o_orderkey) AS o_orderkey
            FROM orders GROUP BY 1, 2
        )
        SELECT e.event_id, e.user_id, o1.o_orderkey AS last_order_key
        FROM events e ASOF LEFT JOIN o1
          ON e.user_id = o1.user_id AND e.ts >= o1.ots
        ORDER BY e.event_id
    """


ORACLES["topk_orders_per_customer"] = """
        SELECT o_custkey, rk, o_orderkey, round(o_totalprice, 2) AS price
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (
                PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
            FROM orders
        )
        WHERE rk <= 3
        ORDER BY o_custkey, rk
    """
