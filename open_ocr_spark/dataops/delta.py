"""Crawl-snapshot delta: classify every URL across two crawls as
added / removed / changed / unchanged.

Recrawl planning runs this constantly — the changed/added set feeds the
fetch queue, the unchanged set keeps its previous extraction (so the
expensive kernel never re-runs on stable pages), and the removed set
tombstones downstream indexes.  The reference's resume machinery
(ocr_request id correlation) is per-request; a corpus-level diff is the
batch analogue this engine needs at 100 TB.

Scale shape: ONE full outer join on the URL key — both sides bucketable
on the same key, so on a bucketed layout the join is exchange-free;
classification is a pure projection.  Content comparison uses a
caller-supplied digest column (md5 of the payload, computed at ingest)
rather than the payload itself, so the join carries ~50 bytes/row, not
page bodies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_ocr_spark.dataops.words import collapse


def crawl_delta(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "url",
    digest_col: str = "content_md5",
) -> DataFrame:
    """(url, status, old_md5, new_md5) with status in
    {'added','removed','changed','unchanged'}: full outer join of two
    snapshots on the URL, content equality by digest."""
    o = old.select(
        F.col(key_col).alias("url"), F.col(digest_col).alias("old_md5")
    )
    n = new.select(
        F.col(key_col).alias("url"), F.col(digest_col).alias("new_md5")
    )
    joined = o.join(n, "url", "full_outer")
    return joined.select(
        "url",
        F.when(F.col("old_md5").isNull(), F.lit("added"))
        .when(F.col("new_md5").isNull(), F.lit("removed"))
        .when(F.col("old_md5") == F.col("new_md5"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
        "old_md5",
        "new_md5",
    )


def crawl_delta_near(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "url",
    text_col: str = "text",
    minor_max: int = 6,
) -> DataFrame:
    """(url, status, hamming): crawl_delta refined for the 'changed'
    class — recrawl schedulers treat a template tweak very differently
    from a rewrite.  Exact equality (content md5) still decides
    'unchanged'; a changed page's OLD and NEW 62-bit md5-SimHash
    fingerprints (dedup.simhash_fingerprints, which DuckDB replays) are
    XOR'd and popcounted, and the Hamming distance splits 'minor_edit'
    (<= minor_max) from 'rewrite'.
    added/removed rows carry NULL hamming; note SimHash hashes the
    DISTINCT token set, so a pure reordering scores distance 0 — a
    minor_edit, which is exactly what a recrawl scheduler wants.

    Scale shape: the fingerprint pipeline is the existing
    exact-collapsed 62-vote hash aggregate per snapshot; the delta
    itself is ONE full-outer join on the url key (bucketable
    exchange-free, same argument as crawl_delta)."""
    from open_ocr_spark.dataops.dedup import simhash_fingerprints

    def side(df: DataFrame, tag: str) -> DataFrame:
        base = df.select(
            F.col(key_col).alias("doc_id"), F.col(text_col).alias("text")
        )
        fp = simhash_fingerprints(base)
        md = base.select(
            "doc_id",
            F.md5(collapse(F.col("text"))).alias("md"),
        )
        return md.join(fp, "doc_id").select(
            F.col("doc_id").alias("url"),
            F.col("md").alias(f"{tag}_md5"),
            F.col("simhash").alias(f"{tag}_sh"),
        )

    joined = side(old, "old").join(side(new, "new"), "url", "full_outer")
    changed = F.col("old_md5") != F.col("new_md5")
    hamming = F.bit_count(
        F.col("old_sh").bitwiseXOR(F.col("new_sh"))
    ).cast("long")
    return joined.select(
        "url",
        F.when(F.col("old_md5").isNull(), F.lit("added"))
        .when(F.col("new_md5").isNull(), F.lit("removed"))
        .when(~changed, F.lit("unchanged"))
        .when(hamming <= minor_max, F.lit("minor_edit"))
        .otherwise(F.lit("rewrite"))
        .alias("status"),
        F.when(changed, hamming).alias("hamming"),
    )


def recrawl_schedule(
    delta: DataFrame,
    *,
    prev_interval_col: str = "prev_interval_h",
    base_interval_h: int = 24,
    min_interval_h: int = 6,
    max_interval_h: int = 720,
) -> DataFrame:
    """Adaptive revisit policy over a crawl delta: (url, status,
    next_interval_h, priority) — the per-URL schedule an incremental
    crawler feeds back into its frontier.

    The classic multiplicative rule (Cho & Garcia-Molina, "Effective
    page refresh policies" shape, reduced to its deterministic integer
    core — the same backoff discipline TCP and cache revalidation use):

    - ``changed``: the page moves — halve the interval (integer DIV,
      floor ``min_interval_h``);
    - ``unchanged``: the page is stable — double it (cap
      ``max_interval_h``);
    - ``added``: no history — start at ``base_interval_h``;
    - ``removed``: tombstone, ``next_interval_h`` NULL so the frontier
      drops the URL.

    ``priority`` ranks the fetch queue: shorter next interval = hotter
    page, with the integer rank ``max_interval_h DIV next_interval_h``
    (1 for the coldest, large for the hottest) so downstream ORDER BY
    needs no floats; tombstones rank 0.

    All-integer arithmetic, so the schedule is identical on any engine
    at any parallelism; the whole operator is two stacked projections
    over the delta — no shuffle beyond the delta's own join."""
    staged = delta.select(
        "url",
        "status",
        # clamp history into [min, max] FIRST: an out-of-range or zero
        # previous interval (corrupt frontier state) must not produce a
        # NULL/zero priority that collides with the tombstone rank
        F.least(
            F.lit(int(max_interval_h)).cast("long"),
            F.greatest(
                F.lit(int(min_interval_h)).cast("long"),
                F.coalesce(
                    F.col(prev_interval_col), F.lit(int(base_interval_h))
                ).cast("long"),
            ),
        ).alias("_prev"),
    )
    nxt = (
        F.when(F.col("status") == "removed", F.lit(None).cast("long"))
        .when(
            F.col("status") == "changed",
            F.greatest(F.lit(int(min_interval_h)).cast("long"),
                       F.expr("_prev DIV 2")),
        )
        .when(
            F.col("status") == "unchanged",
            F.least(F.lit(int(max_interval_h)).cast("long"),
                    F.col("_prev") * 2),
        )
        .otherwise(F.lit(int(base_interval_h)).cast("long"))
    )
    return staged.select(
        "url", "status", nxt.alias("next_interval_h")
    ).select(
        "url",
        "status",
        "next_interval_h",
        F.when(F.col("next_interval_h").isNull(), F.lit(0).cast("long"))
        .otherwise(F.expr(f"{int(max_interval_h)}L DIV next_interval_h"))
        .alias("priority"),
    )
