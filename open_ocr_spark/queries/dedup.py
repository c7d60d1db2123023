"""Registry: text dedup tiers — exact, n-gram Jaccard, MinHash+LSH,
SimHash, connected-component cluster resolution, line-level (CCNet) and
cross-doc substring dedup, each with its DuckDB oracle (the hash-kernel
tiers hash with md5, which DuckDB replays)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from open_ocr_spark.dataops.dedup import _MH_PRIME, _PERMS, exact_dedup_groups, minhash_lsh_pairs, ngram_jaccard_pairs, simhash_fingerprints
from open_ocr_spark.dataops.words import collapse_sql, split_spaces, split_spaces_sql, tokens_sql
from open_ocr_spark.queries._shared import _t, simhash_ctes

ORACLES: dict[str, str] = {}


def q_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup_groups(docs).orderBy("content_hash")


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, k=3, threshold=0.8).orderBy("doc_a", "doc_b")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution end-to-end: exact-jaccard near-dup
    pairs → connected components (iterative min-label propagation,
    dataops/clusters.py) → one canonical cluster id per document
    (singletons keep their own id). Oracle: DuckDB recursive CTE computing
    the same transitive closure over the same pair set."""
    from open_ocr_spark.dataops.clusters import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, k=3, threshold=0.8)
    return dedup_clusters(docs, pairs).orderBy("doc_id")


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL MinHash+LSH pipeline — exact-collapse, 32-perm signatures,
    8-band bucketing, candidate generation, exact-Jaccard verification,
    pair expansion — on the md5-derived 31-bit base hash, which DuckDB can
    reproduce.  The oracle rebuilds every stage (shingles, signature
    minima, band-slice equality for candidacy — including LSH's false
    NEGATIVES — and the verify threshold), so a green row hash-checks the
    whole algorithm end to end, not just the verify step."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, k=3, threshold=0.8).orderBy("doc_a", "doc_b")


def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """62-bit SimHash on md5-derived per-token hashes (two 31-bit halves):
    the oracle recomputes every per-bit majority vote and the bit
    reassembly in DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    return simhash_fingerprints(docs).orderBy("doc_id")


_BOILER_HEAD = "Accept cookies to continue"


_BOILER_FOOT = "All rights reserved. Powered by ExampleCMS."


def q_line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level dedup (CCNet/RefinedWeb-style boilerplate removal): give
    every document a deterministic line structure (10-word chunks) plus a
    shared cookie-banner header and rights footer, then strip every line
    that occurs in >= 2 distinct documents.  The oracle reproduces the
    chunking with unnest(range)/list-slice and the dedup with a
    count-distinct + anti-flag join, so both the frequency threshold and
    the order-preserving reassembly are value-hashed."""
    from open_ocr_spark.dataops.lines import chunk_words_to_lines, dedup_lines

    docs = _t(spark, sf_dir, "documents")
    with_lines = docs.select(
        "doc_id",
        F.concat(
            F.lit(_BOILER_HEAD),
            F.lit("\n"),
            F.array_join(chunk_words_to_lines(F.col("text"), 10), "\n"),
            F.lit("\n"),
            F.lit(_BOILER_FOOT),
        ).alias("text"),
    )
    return dedup_lines(with_lines, min_docs=2).orderBy("doc_id")


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-SPAN removal (dataops/substring.py, the
    windowed form of Lee et al. 2022 suffix-array dedup): every 8-token
    window occurring more than once in the corpus keeps its first
    (doc_id, pos) occurrence and is blanked everywhere else — the tier
    between line-dedup (needs identical lines) and doc-dedup (needs
    near-identical documents).  The corpus' own repeated passages drive
    it (the synthetic documents share sentences across docs).  The
    oracle rebuilds windows with list slices, ranks occurrences with a
    window function, and re-assembles survivors with an ordered
    string_agg — keeper choice, span overlap-union and token-exact
    blanking are all value-hashed (clean text compared as md5)."""
    from open_ocr_spark.dataops.substring import dedup_substrings

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = dedup_substrings(docs, window=8)
    return out.select(
        "doc_id",
        F.md5(F.col("clean_text")).alias("clean_md5"),
        "n_tokens",
        "n_removed",
    ).orderBy("doc_id")


def _minhash_oracle() -> str:
    per_band = len(_PERMS) // 8
    mins = ",\n                   ".join(
        f"min(({a} * h31 + {b}) % {_MH_PRIME}) AS m{i}"
        for i, (a, b) in enumerate(_PERMS)
    )
    bands = "\n                OR ".join(
        "("
        + " AND ".join(
            f"a.m{j} = b.m{j}"
            for j in range(bnd * per_band, (bnd + 1) * per_band)
        )
        + ")"
        for bnd in range(8)
    )
    return f"""
        WITH norm AS (
            SELECT doc_id,
                   {tokens_sql("text")} AS t
            FROM documents
        ),
        idx AS (
            SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
            FROM norm WHERE len(t) >= 3
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM idx
        ),
        h AS (
            SELECT doc_id, shingle,
                   ('0x' || substring(md5(shingle), 1, 8))::BIGINT
                       % {_MH_PRIME} AS h31
            FROM sh
        ),
        sig AS (
            SELECT doc_id,
                   {mins}
            FROM h GROUP BY doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE {bands}
        ),
        inter AS (
            SELECT c.doc_a, c.doc_b, count(*) AS n_inter
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.doc_a
            JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(n_inter / (sa.n + sb.n - n_inter), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.8
        ORDER BY doc_a, doc_b
    """


def _simhash_oracle() -> str:
    return f"""
        WITH norm AS (
            SELECT doc_id,
                   {collapse_sql("text")} AS t
            FROM documents WHERE text IS NOT NULL
        ),
        toks AS (
            SELECT DISTINCT doc_id, unnest({split_spaces_sql("t")}) AS tok
            FROM norm
        ),{simhash_ctes("doc_id")}
        SELECT doc_id, simhash
        FROM fp
        ORDER BY doc_id
    """


ORACLES["exact_dedup_groups"] = f"""
        SELECT md5({collapse_sql("text")})
                   AS content_hash,
               min(doc_id) AS keep_doc_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY content_hash
        ORDER BY content_hash
    """


ORACLES["ngram_jaccard_pairs"] = f"""
        WITH toks AS (
            SELECT doc_id,
                   {tokens_sql("text")} AS t
            FROM documents
        ),
        idx AS (
            SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
            FROM toks WHERE len(t) >= 3
        ),
        shingles AS (
            SELECT DISTINCT doc_id,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM idx
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
            FROM shingles a JOIN shingles b USING (shingle)
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b,
               round(n_inter / (sa.n + sb.n - n_inter), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.8
        ORDER BY doc_a, doc_b
    """


ORACLES["dedup_clusters"] = f"""
        WITH RECURSIVE toks AS (
            SELECT doc_id,
                   {tokens_sql("text")} AS t
            FROM documents
        ),
        idx AS (
            SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
            FROM toks WHERE len(t) >= 3
        ),
        shingles AS (
            SELECT DISTINCT doc_id,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM idx
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
            FROM shingles a JOIN shingles b USING (shingle)
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        pairs AS (
            SELECT doc_a, doc_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.8
        ),
        edges AS (
            SELECT doc_a AS x, doc_b AS y FROM pairs
            UNION
            SELECT doc_b AS x, doc_a AS y FROM pairs
        ),
        reach(id, lab) AS (
            SELECT x, x FROM edges
            UNION
            SELECT e.x, r.lab FROM edges e JOIN reach r ON r.id = e.y
        ),
        comp AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id)
        SELECT d.doc_id,
               CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
        ORDER BY d.doc_id
    """


ORACLES["substring_dedup"] = f"""
        WITH docs2 AS (
            SELECT doc_id,
                   {split_spaces_sql("coalesce(text, '')")} AS w
            FROM documents
        ),
        bound AS (SELECT max(len(w)) AS mx FROM docs2),
        occ AS (
            SELECT d.doc_id, u.i AS pos,
                   md5(array_to_string(w[u.i+1 : u.i+8], ' ')) AS gh
            FROM docs2 d
            JOIN (SELECT unnest(range(0, (SELECT mx FROM bound))) AS i) u
              ON u.i <= len(d.w) - 8
        ),
        rem AS (
            SELECT doc_id, pos FROM (
                SELECT doc_id, pos,
                       row_number() OVER (PARTITION BY gh
                                          ORDER BY doc_id, pos) AS rn,
                       count(*) OVER (PARTITION BY gh) AS cnt
                FROM occ
            ) WHERE cnt > 1 AND rn > 1
        ),
        toks AS (
            SELECT d.doc_id, u.i AS ti, d.w[u.i+1] AS tok
            FROM docs2 d
            JOIN (SELECT unnest(range(0, (SELECT mx FROM bound))) AS i) u
              ON u.i < len(d.w)
        ),
        kept AS (
            SELECT t.doc_id, t.ti, t.tok
            FROM toks t
            WHERE NOT EXISTS (
                SELECT 1 FROM rem r
                WHERE r.doc_id = t.doc_id
                  AND r.pos <= t.ti AND t.ti < r.pos + 8
            )
        )
        SELECT d.doc_id,
               md5(coalesce(string_agg(k.tok, ' ' ORDER BY k.ti), ''))
                   AS clean_md5,
               CAST(len(d.w) AS BIGINT) AS n_tokens,
               CAST(len(d.w) - count(k.ti) AS BIGINT) AS n_removed
        FROM docs2 d LEFT JOIN kept k ON k.doc_id = d.doc_id
        GROUP BY d.doc_id, len(d.w)
        ORDER BY d.doc_id
    """


ORACLES["line_dedup_docs"] = f"""
        WITH chunks AS (
            SELECT doc_id, i AS pos,
                   array_to_string(w[i*10+1 : i*10+10], ' ') AS line
            FROM (
                SELECT doc_id, w,
                       unnest(range(CAST(ceil(len(w)/10.0) AS BIGINT))) AS i
                FROM (
                    SELECT doc_id,
                           {split_spaces_sql("coalesce(text, '')")} AS w
                    FROM documents
                )
            )
        ),
        doclines AS (
            SELECT doc_id, CAST(-1 AS BIGINT) AS pos,
                   'Accept cookies to continue' AS line
            FROM documents
            UNION ALL
            SELECT doc_id, pos, line FROM chunks
            UNION ALL
            SELECT doc_id, CAST(2147483647 AS BIGINT),
                   'All rights reserved. Powered by ExampleCMS.'
            FROM documents
        ),
        freq AS (
            SELECT line FROM (
                SELECT line, count(DISTINCT doc_id) AS nd
                FROM doclines GROUP BY line
            ) WHERE nd >= 2
        )
        SELECT d.doc_id,
               count(*) AS n_lines,
               count(*) FILTER (WHERE f.line IS NULL) AS n_kept,
               coalesce(string_agg(d.line, chr(10) ORDER BY d.pos)
                            FILTER (WHERE f.line IS NULL), '') AS text_clean
        FROM doclines d LEFT JOIN freq f ON d.line = f.line
        GROUP BY d.doc_id
        ORDER BY d.doc_id
    """


ORACLES["minhash_lsh_pairs"] = _minhash_oracle()


ORACLES["simhash_fingerprints"] = _simhash_oracle()


def q_ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup (r5, dataops/dedup.py
    ngram_containment_pairs): the corpus is augmented with a 30-token
    prefix of every document (id + 1,000,000) — each prefix is ~fully
    CONTAINED in its source while its Jaccard is far below threshold, so
    this surfaces exactly the subset relations the Jaccard query cannot.
    The oracle replays the whole shingle/containment computation over
    the same augmented corpus."""
    from open_ocr_spark.dataops.dedup import ngram_containment_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    prefixes = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(F.slice(split_spaces(F.col("text")), 1, 30), " ")
        .alias("text"),
    )
    corpus = docs.unionByName(prefixes)
    return (
        ngram_containment_pairs(corpus, k=3, threshold=0.8)
        .orderBy("doc_a", "doc_b")
    )


ORACLES["ngram_containment_pairs"] = f"""
        WITH src AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000,
                   array_to_string({split_spaces_sql("text")}[1:30], ' ')
            FROM documents
        ),
        toks AS (
            SELECT doc_id,
                   {tokens_sql("text")} AS t
            FROM src
        ),
        idx AS (
            SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
            FROM toks WHERE len(t) >= 3
        ),
        shingles AS (
            SELECT DISTINCT doc_id,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM idx
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
            FROM shingles a JOIN shingles b USING (shingle)
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b,
               round(n_inter / least(sa.n, sb.n), 4) AS containment
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_inter / least(sa.n, sb.n) >= 0.8
        ORDER BY doc_a, doc_b
    """


def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (r5, dataops/winnowing.py): MOSS-style
    rightmost-minimal selection over md5'd word 3-grams in 4-gram
    windows, replayed verbatim in DuckDB (same composite sort key, same
    window frame)."""
    from open_ocr_spark.dataops.winnowing import winnowing_fingerprints

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        winnowing_fingerprints(docs)
        .orderBy("doc_id", "pos", "fingerprint")
    )


def _winnowing_oracle() -> str:
    from open_ocr_spark.dataops.winnowing import winnowing_oracle_sql

    return winnowing_oracle_sql("SELECT doc_id, text FROM documents")


ORACLES["winnowing_fingerprints"] = _winnowing_oracle()
