"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
"Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03;
the MOSS algorithm).

The rolling-hash fingerprints in dataops/textstats.py sample k-grams by
hash value (mod-p selection), which gives no positional guarantee; the
dedup/substring tiers want winnowing's stronger property: selecting the
MINIMUM hash in every sliding window of w consecutive k-grams
guarantees that any match of length ≥ w + k - 1 tokens between two
documents shares at least one selected fingerprint. That makes the
fingerprint set a sound pre-filter for plagiarism-style overlap and
partial-duplicate detection.

Determinism across engines: the k-gram hash is the md5 hex string
(lexicographic order = selection order — the same md5 discipline as
dedup.minhash_lsh_pairs), and ties select the RIGHTMOST minimal gram
(robust winnowing) via a composite sort key ``hash || zero-padded
(10^9-1 - pos)`` so min(key) = (min hash, max pos). Both the key trick
and the window frame replay verbatim in DuckDB.

Scale: tokenize → posexplode grams → ONE running-min window over
(doc_id, pos) with a w-row frame → distinct. The window partitions on
doc_id (uniform), the frame is bounded (w rows), and distinct shuffles
on the output fingerprint set, which winnowing bounds to ~2/(w+1) of
the gram count in expectation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from open_ocr_spark.dataops.words import tokens, tokens_sql

K = 3   # tokens per gram
W = 4   # grams per winnowing window


def winnowing_fingerprints(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, pos, fingerprint): the selected (position, md5) pairs,
    one row per distinct selection, for every full window."""
    toks = tokens(F.col(text_col))
    grams = F.expr(
        "transform(sequence(0, size(t) - 3),"
        " i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
    )
    flat = (
        docs.select(id_col, toks.alias("t"))
        .filter(F.size("t") >= K)
        # gram count rides as a column from the pre-explode array size —
        # no second Window pass just to count partition rows
        .select(id_col, (F.size("t") - (K - 1)).alias("n_grams"),
                F.posexplode(grams).alias("pos", "gram"))
    )
    key = F.concat(
        F.md5(F.col("gram").cast("binary")),
        F.lpad((F.lit(999_999_999) - F.col("pos")).cast("string"), 9, "0"),
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, W - 1)
    )
    sel = (
        flat.select(
            id_col, "pos",
            F.min(key).over(w).alias("wkey"),
            "n_grams",
        )
        .filter(F.col("pos") <= F.col("n_grams") - W)  # full windows only
        .select(
            id_col,
            (F.lit(999_999_999)
             - F.substring("wkey", 33, 9).cast("int")).alias("pos"),
            F.substring("wkey", 1, 32).alias("fingerprint"),
        )
        .distinct()
    )
    return sel


def winnowing_oracle_sql(source_expr: str) -> str:
    """DuckDB replay of the identical selection over (doc_id, text)."""
    return f"""
        WITH src AS ({source_expr}),
        toks AS (
            SELECT doc_id, {tokens_sql("text")} AS t
            FROM src
        ),
        flat AS (
            SELECT doc_id,
                   unnest(generate_series(1, len(t) - 2)) - 1 AS pos,
                   unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                           FOR i IN generate_series(1, len(t) - 2)]) AS gram
            FROM toks
            WHERE len(t) >= {K}
        ),
        keyed AS (
            SELECT doc_id, pos,
                   md5(gram)
                   || lpad((999999999 - pos)::VARCHAR, 9, '0') AS key,
                   count(*) OVER (PARTITION BY doc_id) AS n_grams
            FROM flat
        ),
        win AS (
            SELECT doc_id, pos, n_grams,
                   min(key) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND {W - 1} FOLLOWING
                   ) AS wkey
            FROM keyed
        )
        SELECT DISTINCT doc_id,
               999999999 - substr(wkey, 33, 9)::INT AS pos,
               substr(wkey, 1, 32) AS fingerprint
        FROM win
        WHERE pos <= n_grams - {W}
        ORDER BY doc_id, pos, fingerprint
    """
