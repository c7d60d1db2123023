"""Registry: corpus assembly — prepare-corpus chains, decontamination,
sampling (stratified / temperature / host-quota / split), sequence
packing, and the Bloom/HLL sketch diagnostics."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from open_ocr_spark.dataops.textstats import PII_EMAIL_RE, PII_PHONE_RE
from open_ocr_spark.dataops.words import collapse_sql, split_spaces, split_spaces_sql, tokens_sql, words_sql
from open_ocr_spark.queries._shared import _t
from open_ocr_spark.queries.dedup import _BOILER_FOOT, _BOILER_HEAD

ORACLES: dict[str, str] = {}


def q_prepare_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-corpus prep composition (dedup → quality gate →
    PII scrub → split) as one plan; the oracle reproduces the whole chain
    in SQL, so stage-ordering bugs fail the value hash."""
    from open_ocr_spark.dataops.corpus import prepare_corpus

    docs = _t(spark, sf_dir, "documents")
    return prepare_corpus(docs).select(
        "doc_id", "split", "n_tokens", "quality_score"
    ).orderBy("doc_id")


def q_host_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl cap (dataops/mixing.py::quota_sample): a skewed
    70/20/10 host mixture is capped at 30 docs per host by keeping the
    30 smallest (md5_32(doc_id), doc_id) keys within each host — a pure
    function of the ids, so the oracle reproduces the EXACT kept set
    with the same md5 expression and a window rank.  The plan's scale
    property (WindowGroupLimit map-side prune on the skewed host key) is
    pinned separately in the plan-shape tier."""
    from open_ocr_spark.dataops.mixing import quota_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 7, F.lit("big.example.com"))
        .when(F.col("doc_id") % 10 < 9, F.lit("mid.example.com"))
        .otherwise(F.lit("small.example.com"))
        .alias("host"),
    )
    return quota_sample(docs, group_col="host", quota=30).orderBy("doc_id")


def q_pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset-based sequence packing (concat-then-chunk pretraining layout):
    whitespace token counts, md5-bucketed running sum, seq_id = start DIV
    budget.  Engine-independent by construction (md5 bucket + id order), so
    the oracle reproduces the exact assignment with a window sum."""
    from open_ocr_spark.dataops.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(split_spaces(F.coalesce(F.col("text"), F.lit("")))).alias(
            "n_tokens"
        ),
    )
    return pack_sequences(toks, budget=200, n_buckets=8).orderBy(
        "bucket", "seq_id"
    )


def q_pack_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved image-text packing (dataops/packing.py::
    pack_multimodal_sequences): each document carries doc_id%3 inline
    images at 64 placeholder tokens apiece next to its whitespace text
    tokens; the sequence assignment runs on the COMBINED cost and each
    packed row reports its per-modality split.  The oracle reproduces
    the whole layout (md5 bucket, composite running sum, modality sums)
    — an image-cost slip or a modality-accounting bug changes
    seq_id/text_tokens/image_token_cost and breaks the hash."""
    from open_ocr_spark.dataops.packing import pack_multimodal_sequences

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(split_spaces(F.coalesce(F.col("text"), F.lit("")))).alias(
            "n_text_tokens"
        ),
        (F.col("doc_id") % 3).alias("n_images"),
    )
    return pack_multimodal_sequences(
        toks, budget=512, image_tokens=64, n_buckets=8
    ).orderBy("bucket", "seq_id")


def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-0.5 source rebalancing over a skewed 60/30/10 mix (the
    table's own sources are uniform, which would never thin): the kept
    ids are a pure function of (ids, per-source counts) via md5
    acceptance below a sqrt-rate cutoff — division and sqrt are
    IEEE-correctly-rounded in both engines, so the oracle hashes the
    EXACT kept set, not counts."""
    from open_ocr_spark.dataops.mixing import temperature_sample

    docs = _t(spark, sf_dir, "documents")
    skewed = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 6, F.lit("head"))
        .when(F.col("doc_id") % 10 < 9, F.lit("body"))
        .otherwise(F.lit("tail"))
        .alias("source"),
    )
    return (
        temperature_sample(skewed, tau=0.5)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def q_prepare_corpus_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE crawl-to-corpus chain, value-hashed end to end: wrap every
    document in boilerplate lines + a PII tail, then line-dedup ->
    exact-dedup -> quality gate -> PII scrub -> 5-gram decontamination
    (eval set = every 50th raw document) -> md5 split, one plan.  The
    oracle reproduces each stage in SQL IN ORDER, so any stage-ordering
    bug (gating scrubbed counts, decontaminating pre-scrub text, splitting
    before dedup) or any drift in one stage's semantics fails the hash of
    the final text bytes."""
    from open_ocr_spark.dataops.corpus import prepare_corpus_full
    from open_ocr_spark.dataops.lines import chunk_words_to_lines

    docs = _t(spark, sf_dir, "documents")
    pii_tail = " contact a1.b-c@mail-host.example.net or call +1-555-0100-22"
    wrapped = docs.select(
        "doc_id",
        F.concat(
            F.lit(_BOILER_HEAD),
            F.lit("\n"),
            F.array_join(
                chunk_words_to_lines(
                    F.concat(
                        F.coalesce(F.col("text"), F.lit("")), F.lit(pii_tail)
                    ),
                    10,
                ),
                "\n",
            ),
            F.lit("\n"),
            F.lit(_BOILER_FOOT),
        ).alias("text"),
    )
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
    return prepare_corpus_full(wrapped, bench, ngram=5).orderBy("doc_id")


def q_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3-style n-gram overlap): every 50th
    document plays the eval set; a training document is contaminated when
    any of its distinct word 5-grams appears in the eval set.  The oracle
    re-derives both shingle sets with unnest(range)/list-slice and the
    hit counts with a join + group-by, so the gram window arithmetic, the
    per-doc distinct, and the broadcast-join semantics are all
    value-hashed.  The word soup shares a small vocabulary, so natural
    5-gram collisions (not just the eval docs themselves) must match too."""
    from open_ocr_spark.dataops.decontam import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return decontaminate(docs, bench, n=5).orderBy("doc_id")


def q_key_skew_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew Gini diagnostic (dataops/skew.py) over events.user_id —
    the measurement behind salt-factor / AQE-threshold choices.  Exact
    int64 weighted-rank numerator on the hashed surface; ties on count
    are provably order-independent, so the value is engine- and
    parallelism-invariant."""
    from open_ocr_spark.dataops.skew import key_skew_gini

    return key_skew_gini(_t(spark, sf_dir, "events"), "user_id")


def q_bloom_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 Bloom filter membership pruning (dataops/bloom.py): build the
    filter over customers with a 2001+ order ("recent buyers"), probe
    every customer, and account exactly for true/false positives.
    Because every bit position is md5-derived (Kirsch-Mitzenmacher
    double hashing), the false-positive SET — not just its size — is
    engine-independent, and this single-row summary hash-checks it
    against DuckDB.  Probe side joins the broadcast sparse filter; no
    shuffle of probe payloads."""
    from open_ocr_spark.dataops.bloom import bloom_build, bloom_members

    M_BITS, K = 65536, 5
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    keys = (
        orders.where(F.col("o_orderdate") >= "2001-01-01")
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )
    bits = bloom_build(keys, "key", M_BITS, K)
    probes = cust.select(F.col("c_custkey").alias("key")).distinct()
    hits = bloom_members(probes, "key", bits, M_BITS, K)
    hit_truth = hits.join(
        keys.withColumn("is_member", F.lit(1)), "key", "left"
    ).agg(
        F.count("*").cast("long").alias("bloom_positives"),
        F.count("is_member").cast("long").alias("true_positives"),
        (F.count("*") - F.count("is_member"))
        .cast("long")
        .alias("false_positives"),
    )
    return (
        keys.agg(F.count("*").cast("long").alias("n_keys"))
        .crossJoin(bits.agg(F.count("*").cast("long").alias("n_bits_set")))
        .crossJoin(probes.agg(F.count("*").cast("long").alias("n_probes")))
        .crossJoin(hit_truth)
    )


def q_hll_distinct_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5-based HyperLogLog register histogram (dataops/hll.py) — the
    hash-checkable twin of `approx_distinct_users`: Spark's built-in
    HLL++ is sealed in the JVM, but this sketch is built from md5 +
    bin() primitives both engines share, so the full register table is
    bit-identical across engines and the driver can hash it.  The float
    cardinality estimate lives outside the data plane (tests bound its
    error vs exact)."""
    from open_ocr_spark.dataops.hll import hll_register_histogram

    ev = _t(spark, sf_dir, "events")
    return hll_register_histogram(ev, "user_id").orderBy("rho")


def q_stratified_sample_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable twin of q_stratified_sample (VERDICT r3 item 1
    pattern): the same per-language fractions, but acceptance is
    md5(lang ':' doc_id) < floor(fraction·2^32) instead of sampleBy's
    engine-seeded RNG — the kept SET is a pure function of the ids, so
    the oracle hashes exactly which documents survive, not just counts.
    Zero shuffles: literal when-chain cutoff + one md5 per row."""
    from open_ocr_spark.dataops.mixing import stratified_sample_exact

    docs = _t(spark, sf_dir, "documents")
    fractions = {"en": 0.5, "es": 0.25, "fr": 0.25, "de": 0.25, "zh": 0.1}
    return (
        stratified_sample_exact(docs, fractions)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/20 train/test split by content-independent hash —
    the split a training pipeline must be able to reproduce on any engine,
    at any parallelism, forever. md5 of the doc id (not xxhash64: that's
    engine-specific) ⇒ the oracle reproduces the exact assignment."""
    from open_ocr_spark.dataops.corpus import train_test_split_col

    docs = _t(spark, sf_dir, "documents").orderBy("doc_id")  # sort-early
    return docs.select("doc_id", train_test_split_col())


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE_NONE (engine-specific RNG): seeded per-language stratified
    sample (`sampleBy`) — the data-mixing primitive; deterministic for a
    fixed seed, so the rows-only check is stable across driver runs."""
    docs = _t(spark, sf_dir, "documents")
    fractions = {"en": 0.5, "es": 0.25, "fr": 0.25, "de": 0.25, "zh": 0.1}
    return docs.sampleBy("lang", fractions, seed=42).select("doc_id", "lang")


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (r5, dataops/dsir.py; Xie NeurIPS'23):
    hashed unigram+bigram features (512 md5 buckets), add-one-smoothed
    target-vs-raw log-likelihood-ratio weights frozen to 6dp int64 fixed
    point, per-doc score = integer sum, top-100 by (score_fp desc,
    doc_id) — the data-selection stage of a pretraining pipeline. Target
    domain = lang='en' (the in-corpus target, CCNet shape). The oracle
    REPLAYS the whole model fit in SQL — tokenization, bucket hash, both
    multinomials, the fixed-point ln ratio, the scoring join — so the
    feature space and every weight value hash-check."""
    from open_ocr_spark.dataops.dsir import dsir_resample

    docs = _t(spark, sf_dir, "documents")
    return dsir_resample(
        docs, is_target=F.col("lang") == "en", k=100, buckets=512
    ).select("doc_id", "n_grams", "score_fp")


ORACLES["dsir_resample"] = f"""
        WITH toks AS (
            SELECT doc_id, lang = 'en' AS is_target,
                   {words_sql("lower(coalesce(text, ''))")} AS tl
            FROM documents
        ),
        grams AS (
            SELECT doc_id, is_target, unnest(tl) AS gram FROM toks
            UNION ALL
            SELECT doc_id, is_target, tl[g.i] || ' ' || tl[g.i + 1] AS gram
            FROM toks, UNNEST(generate_series(1, len(tl) - 1)) AS g(i)
        ),
        bucketed AS (
            SELECT doc_id, is_target,
                   ('0x' || substring(md5(gram), 1, 8))::BIGINT % 512
                       AS bucket
            FROM grams
        ),
        per_bucket AS (
            SELECT bucket,
                   sum(CASE WHEN is_target THEN 1 ELSE 0 END)::BIGINT
                       AS t_cnt,
                   count(*)::BIGINT AS r_cnt
            FROM bucketed GROUP BY bucket
        ),
        tot AS (
            SELECT sum(t_cnt)::BIGINT AS t_total,
                   sum(r_cnt)::BIGINT AS r_total
            FROM per_bucket
        ),
        weights AS (
            SELECT bucket,
                   CAST(round(1000000 * (
                       ln((t_cnt + 1)::DOUBLE / (t_total + 512))
                       - ln((r_cnt + 1)::DOUBLE / (r_total + 512))
                   )) AS BIGINT) AS weight_fp
            FROM per_bucket, tot
        ),
        scores AS (
            SELECT b.doc_id, count(*)::BIGINT AS n_grams,
                   sum(w.weight_fp)::BIGINT AS score_fp
            FROM bucketed b JOIN weights w USING (bucket)
            GROUP BY b.doc_id
        )
        SELECT doc_id, n_grams, score_fp
        FROM scores
        ORDER BY score_fp DESC, doc_id
        LIMIT 100
    """


ORACLES["prepare_corpus"] = f"""
        WITH base AS (
            SELECT doc_id, text,
                   {collapse_sql("text")} AS nt
            FROM documents
        ),
        dedup AS (
            SELECT min(doc_id) AS doc_id FROM base GROUP BY nt
        ),
        kept AS (
            SELECT b.doc_id, b.text, b.nt FROM base b JOIN dedup USING (doc_id)
        ),
        q AS (
            SELECT doc_id,
                   length(text) AS n_chars,
                   CASE WHEN length(nt) = 0 THEN 0
                        ELSE len({split_spaces_sql("nt")}) END AS n_tokens,
                   length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha
            FROM kept
        ),
        scored AS (
            SELECT doc_id, n_tokens,
                   floor((least(1.0, n_tokens / 100.0) * 0.5
                          + (CASE WHEN n_chars > 0 THEN n_alpha / n_chars
                                  ELSE 0.0 END) * 0.3
                          + least(1.0, (CASE WHEN n_tokens > 0
                                        THEN (n_chars - (n_tokens - 1)) / n_tokens
                                        ELSE 0.0 END) / 8.0) * 0.2)
                         * 10000.0 + 0.5) / 10000.0 AS quality_score
            FROM q
        )
        SELECT doc_id,
               CASE WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::INT
                         % 10 < 8
                    THEN 'train' ELSE 'test' END AS split,
               n_tokens, quality_score
        FROM scored
        WHERE quality_score >= 0.3
        ORDER BY doc_id
    """


ORACLES["key_skew_gini"] = """
        WITH c AS (
            SELECT user_id, count(*)::BIGINT AS cnt
            FROM events GROUP BY user_id
        ),
        r AS (
            SELECT cnt,
                   row_number() OVER (ORDER BY cnt, user_id)::BIGINT AS i
            FROM c
        )
        SELECT count(*)::BIGINT AS n_keys,
               sum(cnt)::BIGINT AS total_rows,
               sum(i * cnt)::BIGINT AS weighted_rank_sum,
               round((2.0 * sum(i * cnt) - (count(*) + 1.0) * sum(cnt))
                     / (count(*) * sum(cnt)), 4) AS gini_e4
        FROM r
    """


ORACLES["bloom_prune_stats"] = """
        WITH keys AS (
            SELECT DISTINCT o_custkey AS key FROM orders
            WHERE o_orderdate >= '2001-01-01'
        ),
        kh AS (
            SELECT key,
                ('0x'||substring(md5(key::VARCHAR),1,8))::BIGINT
                    % 2147483647 AS h1,
                ('0x'||substring(md5(key::VARCHAR),9,8))::BIGINT
                    % 2147483647 AS h2
            FROM keys
        ),
        bits AS (
            SELECT DISTINCT (h1 + g.i * h2) % 65536 AS bit
            FROM kh, UNNEST(generate_series(0, 4)) AS g(i)
        ),
        probes AS (SELECT DISTINCT c_custkey AS key FROM customer),
        ph AS (
            SELECT key,
                ('0x'||substring(md5(key::VARCHAR),1,8))::BIGINT
                    % 2147483647 AS h1,
                ('0x'||substring(md5(key::VARCHAR),9,8))::BIGINT
                    % 2147483647 AS h2
            FROM probes
        ),
        ppos AS (
            SELECT key, (h1 + g.i * h2) % 65536 AS bit
            FROM ph, UNNEST(generate_series(0, 4)) AS g(i)
        ),
        hits AS (
            SELECT key FROM ppos JOIN bits USING (bit)
            GROUP BY key HAVING count(*) = 5
        )
        SELECT
            (SELECT count(*) FROM keys)::BIGINT AS n_keys,
            (SELECT count(*) FROM bits)::BIGINT AS n_bits_set,
            (SELECT count(*) FROM probes)::BIGINT AS n_probes,
            (SELECT count(*) FROM hits)::BIGINT AS bloom_positives,
            (SELECT count(*) FROM hits WHERE key IN
                (SELECT key FROM keys))::BIGINT AS true_positives,
            (SELECT count(*) FROM hits WHERE key NOT IN
                (SELECT key FROM keys))::BIGINT AS false_positives
    """


ORACLES["hll_distinct_md5"] = """
        WITH h AS (
            SELECT ('0x' || substring(md5(user_id::VARCHAR), 1, 15))::BIGINT
                   AS h
            FROM events
        ),
        reg AS (
            SELECT h % 4096 AS bucket,
                   max(CASE WHEN (h >> 12) = 0 THEN 49
                            ELSE 49 - length(bin(h >> 12)) END) AS rho
            FROM h GROUP BY 1
        )
        SELECT rho::INT AS rho, count(*)::BIGINT AS n_buckets
        FROM reg GROUP BY rho ORDER BY rho
    """


ORACLES["stratified_sample_md5"] = """
        SELECT doc_id, lang
        FROM documents
        WHERE ('0x' || substring(md5(lang || ':' || doc_id::VARCHAR), 1, 8))::BIGINT
              < CASE lang WHEN 'en' THEN 2147483648
                          WHEN 'es' THEN 1073741824
                          WHEN 'fr' THEN 1073741824
                          WHEN 'de' THEN 1073741824
                          WHEN 'zh' THEN 429496729
                          ELSE 0 END
        ORDER BY doc_id
    """


ORACLES["host_quota_sample"] = """
        WITH hosts AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 10 < 7 THEN 'big.example.com'
                        WHEN doc_id % 10 < 9 THEN 'mid.example.com'
                        ELSE 'small.example.com' END AS host
            FROM documents
        ),
        ranked AS (
            SELECT doc_id, host,
                   row_number() OVER (
                       PARTITION BY host
                       ORDER BY ('0x' || substring(md5(doc_id::VARCHAR),
                                                   1, 8))::BIGINT,
                                doc_id
                   ) AS rk
            FROM hosts
        )
        SELECT doc_id, host FROM ranked WHERE rk <= 30
        ORDER BY doc_id
    """


ORACLES["train_test_split"] = """
        SELECT doc_id,
               CASE WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::INT
                         % 10 < 8
                    THEN 'train' ELSE 'test' END AS split
        FROM documents
        ORDER BY doc_id
    """


ORACLES["pack_training_sequences"] = f"""
        WITH toks AS (
            SELECT doc_id,
                   CAST(len({split_spaces_sql("coalesce(text, '')")})
                       AS BIGINT) AS n_tokens,
                   CAST(('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::INT
                       % 8 AS BIGINT) AS bucket
            FROM documents
        ),
        cum AS (
            SELECT bucket, doc_id, n_tokens,
                   sum(n_tokens) OVER (
                       PARTITION BY bucket ORDER BY doc_id) AS running
            FROM toks
        )
        SELECT bucket,
               CAST((running - n_tokens) // 200 AS BIGINT) AS seq_id,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
               min(doc_id) AS first_doc,
               max(doc_id) AS last_doc
        FROM cum
        GROUP BY bucket, seq_id
        ORDER BY bucket, seq_id
    """


ORACLES["pack_multimodal"] = f"""
        WITH toks AS (
            SELECT doc_id,
                   CAST(len({split_spaces_sql("coalesce(text, '')")})
                       AS BIGINT) AS n_text,
                   CAST(doc_id % 3 AS BIGINT) AS n_imgs,
                   CAST(('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::INT
                       % 8 AS BIGINT) AS bucket
            FROM documents
        ),
        cum AS (
            SELECT bucket, doc_id, n_text, n_imgs,
                   n_text + 64 * n_imgs AS cost,
                   sum(n_text + 64 * n_imgs) OVER (
                       PARTITION BY bucket ORDER BY doc_id) AS running
            FROM toks
        )
        SELECT bucket,
               CAST((running - cost) // 512 AS BIGINT) AS seq_id,
               count(*) AS n_docs,
               CAST(sum(n_imgs) AS BIGINT) AS n_images,
               CAST(sum(n_text) AS BIGINT) AS text_tokens,
               CAST(sum(n_imgs) * 64 AS BIGINT) AS image_token_cost,
               CAST(sum(cost) AS BIGINT) AS seq_tokens,
               min(doc_id) AS first_doc,
               max(doc_id) AS last_doc
        FROM cum
        GROUP BY bucket, seq_id
        ORDER BY bucket, seq_id
    """


ORACLES["temperature_sample"] = """
        WITH docs AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 10 < 6 THEN 'head'
                        WHEN doc_id % 10 < 9 THEN 'body'
                        ELSE 'tail' END AS source
            FROM documents
        ),
        counts AS (
            SELECT source, count(*) AS n FROM docs GROUP BY source
        ),
        mn AS (SELECT min(n) AS nmin FROM counts),
        cutoffs AS (
            SELECT source,
                   CAST(floor(sqrt(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE))
                              * 4294967296.0) AS BIGINT) AS cutoff
            FROM counts, mn
        )
        SELECT d.doc_id, d.source
        FROM docs d JOIN cutoffs c USING (source)
        WHERE ('0x' || substring(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
              < c.cutoff
        ORDER BY d.doc_id
    """


ORACLES["prepare_corpus_full"] = f"""
        WITH src AS (
            SELECT doc_id,
                   coalesce(text, '')
                   || ' contact a1.b-c@mail-host.example.net'
                   || ' or call +1-555-0100-22' AS t
            FROM documents
        ),
        chunks AS (
            SELECT doc_id, i AS pos,
                   array_to_string(w[i*10+1 : i*10+10], ' ') AS line
            FROM (
                SELECT doc_id, w,
                       unnest(range(CAST(ceil(len(w)/10.0) AS BIGINT))) AS i
                FROM (SELECT doc_id, {split_spaces_sql("t")} AS w FROM src)
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
        ),
        cleaned AS (
            SELECT d.doc_id,
                   coalesce(string_agg(d.line, chr(10) ORDER BY d.pos)
                                FILTER (WHERE f.line IS NULL), '') AS text
            FROM doclines d LEFT JOIN freq f ON d.line = f.line
            GROUP BY d.doc_id
        ),
        base AS (
            SELECT doc_id, text,
                   {collapse_sql("text")} AS nt
            FROM cleaned
        ),
        dedup AS (
            SELECT min(doc_id) AS doc_id FROM base GROUP BY nt
        ),
        kept AS (
            SELECT b.doc_id, b.text, b.nt FROM base b JOIN dedup USING (doc_id)
        ),
        q AS (
            SELECT doc_id, text,
                   length(text) AS n_chars,
                   CASE WHEN length(nt) = 0 THEN 0
                        ELSE len({split_spaces_sql("nt")}) END AS n_tokens,
                   length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha
            FROM kept
        ),
        scored AS (
            SELECT doc_id, text, n_tokens,
                   floor((least(1.0, n_tokens / 100.0) * 0.5
                          + (CASE WHEN n_chars > 0 THEN n_alpha / n_chars
                                  ELSE 0.0 END) * 0.3
                          + least(1.0, (CASE WHEN n_tokens > 0
                                        THEN (n_chars - (n_tokens - 1)) / n_tokens
                                        ELSE 0.0 END) / 8.0) * 0.2)
                         * 10000.0 + 0.5) / 10000.0 AS quality_score
            FROM q
        ),
        gated AS (
            SELECT doc_id, n_tokens, quality_score,
                   regexp_replace(regexp_replace(text,
                       '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                       '{PII_PHONE_RE}', '<PHONE>', 'g') AS text
            FROM scored
            WHERE quality_score >= 0.3
        ),
        bgrams AS (
            SELECT DISTINCT array_to_string(w[i+1 : i+5], ' ') AS gram
            FROM (
                SELECT w, unnest(range(greatest(len(w) - 4, 0))) AS i
                FROM (
                    SELECT {tokens_sql("coalesce(text, '')")} AS w
                    FROM documents WHERE doc_id % 50 = 0
                )
            )
        ),
        cgrams AS (
            SELECT DISTINCT doc_id, array_to_string(w[i+1 : i+5], ' ') AS gram
            FROM (
                SELECT doc_id, w, unnest(range(greatest(len(w) - 4, 0))) AS i
                FROM (SELECT doc_id, {tokens_sql("text")} AS w
                      FROM gated)
            )
        ),
        bad AS (
            SELECT DISTINCT c.doc_id FROM cgrams c JOIN bgrams b USING (gram)
        )
        SELECT g.doc_id,
               CASE WHEN ('0x' || substring(md5(g.doc_id::VARCHAR), 1, 4))::INT
                         % 10 < 8
                    THEN 'train' ELSE 'test' END AS split,
               g.n_tokens, g.quality_score, g.text
        FROM gated g LEFT JOIN bad ON g.doc_id = bad.doc_id
        WHERE bad.doc_id IS NULL
        ORDER BY g.doc_id
    """


ORACLES["decontaminate_docs"] = f"""
        WITH words AS (
            SELECT doc_id,
                   {tokens_sql("coalesce(text, '')")} AS w
            FROM documents
        ),
        grams AS (
            SELECT DISTINCT doc_id,
                   array_to_string(w[i+1 : i+5], ' ') AS gram
            FROM (
                SELECT doc_id, w,
                       unnest(range(greatest(len(w) - 4, 0))) AS i
                FROM words
            )
        ),
        bench AS (
            SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0
        ),
        totals AS (
            SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id
        ),
        hits AS (
            SELECT g.doc_id, count(*) AS n_hits
            FROM grams g JOIN bench b USING (gram)
            GROUP BY g.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(t.n_grams, 0) AS BIGINT) AS n_grams,
               CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
               coalesce(h.n_hits, 0) > 0 AS contaminated
        FROM documents d
        LEFT JOIN totals t ON d.doc_id = t.doc_id
        LEFT JOIN hits h ON d.doc_id = h.doc_id
        ORDER BY d.doc_id
    """


def q_clean_web_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed r5 crawl-cleaning chain (dataops/corpus.py
    clean_web_corpus): repair -> host template strip -> reflow ->
    split, one plan.  The fixture damage is built in-query so every
    stage has real work: each document gets a per-host subscribe
    banner (template evidence), its body hard-wrapped at deterministic
    word boundaries (reflow work), a hyphen-wrapped tail (the
    de-hyphenation rule), and every 4th row mojibake-corrupted through
    the exact inverse the repair undoes.  The oracle replays the three
    stages in order through the stages' own SQL-replay helpers, so a
    stage-ORDER bug (reflow before strip, strip before repair) fails
    the hash even though each stage is green alone."""
    from open_ocr_spark.dataops.corpus import clean_web_corpus
    from open_ocr_spark.dataops.mojibake import corrupt_to_mojibake

    docs = _t(spark, sf_dir, "documents")
    host = F.concat(F.lit("h"), (F.col("doc_id") % 40).cast("string"))
    wrapped = F.regexp_replace(
        F.coalesce(F.col("text"), F.lit("")), "(key|join|data) ", "$1\n"
    )
    raw = F.concat(
        F.lit("Subscribe to "), host, F.lit(" café updates!\n"),
        wrapped,
        F.lit("\nhyphen-\nated tail "), F.col("doc_id").cast("string"),
    )
    damaged = F.when(
        F.col("doc_id") % 4 == 0, corrupt_to_mojibake(raw)
    ).otherwise(raw)
    pages = docs.select("doc_id", host.alias("host"), damaged.alias("text"))
    return clean_web_corpus(pages).orderBy("doc_id")


def _clean_web_corpus_oracle() -> str:
    from open_ocr_spark.dataops.reflow import reflow_oracle_sql
    from open_ocr_spark.dataops.templates import (
        strip_template_lines_oracle_sql,
    )

    src = """
        SELECT doc_id,
               'h' || (doc_id % 40)::VARCHAR AS host,
               'Subscribe to h' || (doc_id % 40)::VARCHAR
               || ' café updates!' || chr(10)
               || regexp_replace(coalesce(text, ''), '(key|join|data) ',
                                 '\\1' || chr(10), 'g')
               || chr(10) || 'hyphen-' || chr(10) || 'ated tail '
               || doc_id::VARCHAR AS text
        FROM documents
    """
    tpl = strip_template_lines_oracle_sql(src, min_docs=3,
                                          frac_num=1, frac_den=2)
    reflow = reflow_oracle_sql(
        f"SELECT doc_id, clean_text AS text FROM ({tpl})"
    )
    return f"""
        SELECT r.doc_id,
               r.reflowed AS text,
               r.n_paras,
               t.n_removed,
               r.doc_id % 4 = 0 AS was_repaired,
               CASE WHEN ('0x' || substring(md5(r.doc_id::VARCHAR), 1, 4))
                        ::INT % 10 < 8
                    THEN 'train' ELSE 'test' END AS split
        FROM ({reflow}) r JOIN ({tpl}) t ON t.doc_id = r.doc_id
        ORDER BY r.doc_id
    """


ORACLES["clean_web_corpus"] = _clean_web_corpus_oracle()
