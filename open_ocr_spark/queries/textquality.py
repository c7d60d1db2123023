"""Registry: text analysis and quality gates — token/quality/repetition
stats, PII scrub, fingerprints, lang-id, entropy, fluency LM, Gopher/C4/
phrase gates, readability, classifier train+serve, BM25, BPE train/encode,
NFC, chunking."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from open_ocr_spark.dataops.textstats import BPE_SPLIT_RE, with_fingerprint, with_lang_id, with_quality_score, with_token_count
from open_ocr_spark.dataops.words import collapse_sql, split_spaces, split_spaces_sql, tokens_sql, words, words_sql
from open_ocr_spark.queries._shared import _t, twin_payloads

ORACLES: dict[str, str] = {}


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").orderBy("doc_id")  # sort-early
    return with_token_count(docs).select("doc_id", "n_tokens")


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").orderBy("doc_id")  # sort-early
    return with_quality_score(docs).select(
        "doc_id", "n_tokens", "avg_token_len", "alpha_ratio", "quality_score"
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style within-document repetition filters: duplicate-bigram
    fraction (array exprs, codegen) + most-common-token share (explode +
    two uniform hash aggs). Oracle mirrors both in DuckDB list/agg SQL."""
    from open_ocr_spark.dataops.textstats import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs).orderBy("doc_id")


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish-regex token counts side by side (the brief's
    token-counting pair): ws count from split, BPE-ish count from a
    lookahead-free GPT-2-style pre-tokenizer pattern that Java regex and
    RE2 execute identically."""
    from open_ocr_spark.dataops.textstats import with_bpe_token_count

    docs = _t(spark, sf_dir, "documents").orderBy("doc_id")  # sort-early
    return with_bpe_token_count(with_token_count(docs)).select(
        "doc_id", "n_tokens", "n_bpe_tokens"
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style PII redaction, oracle-checked end-to-end: a deterministic
    email + phone number is injected into every document (pure Catalyst
    concat — the base corpus contains no PII patterns), scrubbed with
    dialect-portable regexes, and the oracle states the EXPECTED redacted
    string directly (no regex on the oracle side — the check fails if the
    scrub misses or over-matches)."""
    from open_ocr_spark.dataops.textstats import scrub_pii

    docs = _t(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.org or call +1-555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        ).alias("text"),
    )
    return scrub_pii(injected).select("doc_id", "scrubbed").orderBy("doc_id")


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").orderBy("doc_id")  # sort-early
    return with_fingerprint(docs).select("doc_id", "fingerprint")


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE_NONE: pandas-UDF kernel (heuristic language ID). Rows-only
    check, no sort — a sort above the UDF would run the kernel twice
    (range-sampling pass)."""
    docs = _t(spark, sf_dir, "documents")
    return with_lang_id(docs).select("doc_id", "lang", "lang_pred")


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon character-entropy quality signal (information density):
    spam/template text sits far below prose's ~4.1 bits/char. Pure
    Catalyst, two uniform-key shuffles (dataops/textstats.py)."""
    from open_ocr_spark.dataops.textstats import char_entropy

    docs = _t(spark, sf_dir, "documents")
    return char_entropy(docs).orderBy("doc_id")


def q_ngram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filtering made engine-exact
    (dataops/fluency.py): train a bigram model on the doc_id%10==0
    reference split, score EVERY document as the integer mean of
    SCALE-scaled conditional probabilities of its adjacent token pairs
    (unseen pairs 0).  The oracle retrains the same model and rescoring
    in SQL — a conditioning-total bug (c1 over the wrong margin), a
    join-laterality slip or a float sneaking into the mean breaks the
    hash."""
    from open_ocr_spark.dataops.fluency import (
        fluency_scores,
        train_bigram_model,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 10 == 0)
    model = train_bigram_model(ref)
    return fluency_scores(docs, model, broadcast_model=True).orderBy("doc_id")


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail tiers (r5, dataops/fluency.py
    fluency_buckets): per-language perplexity terciles over the
    ngram_fluency scores — Wenzek et al. LREC 2020 §4.4, the step that
    turns the LM score into the corpus's quality tiers.  Assignment is
    VALUE-based via the (lang, fluency) histogram's descending cumulative
    count (no per-language corpus sort; the window runs on the tiny
    histogram only), ceil boundaries kept integer-exact as
    cum*3 <= k*n + 2.  The oracle retrains the model, rescores, rebuilds
    the histogram and replays the same cum/ceil arithmetic in SQL — a
    rank-vs-value slip, a tie group straddling buckets, or a float ceil
    moves documents across tiers and breaks the hash."""
    from open_ocr_spark.dataops.fluency import (
        fluency_buckets,
        train_bigram_model,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    ref = docs.filter(F.col("doc_id") % 10 == 0)
    model = train_bigram_model(ref)
    return fluency_buckets(docs, model).orderBy("doc_id")


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/embedding chunking (dataops/chunking.py): every document fans
    out to overlapping 16-token windows at stride 12 (the last window is
    the first to reach the end — no degenerate duplicate tail).  The
    oracle recomputes the window count closed-form and re-slices every
    window — an off-by-one in the start grid, the ceil, or the tail
    clamp changes chunk_md5/n_tokens and breaks the hash."""
    from open_ocr_spark.dataops.chunking import chunk_documents

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        chunk_documents(docs, chunk_tokens=16, stride=12)
        .select(
            "doc_id",
            "chunk_idx",
            F.md5(F.col("chunk_text")).alias("chunk_md5"),
            "n_tokens",
        )
        .orderBy("doc_id", "chunk_idx")
    )


def q_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (dataops/normalize.py) against DuckDB's
    nfc_normalize as an independent implementation: four codepoint
    spellings cycle per doc — decomposed accent (must compose),
    precomposed (unchanged), combining ring on A (must compose), plain
    ASCII (unchanged) — and BOTH engines normalize the same constructed
    strings, so the value hash compares two real normalizers, not a
    replayed formula."""
    from open_ocr_spark.dataops.normalize import unicode_normalize

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    v = F.col("doc_id") % 4
    raw = (
        F.when(v == 0, F.concat(F.lit("café "),
                                F.col("doc_id").cast("string")))
        .when(v == 1, F.concat(F.lit("café "),
                               F.col("doc_id").cast("string")))
        .when(v == 2, F.concat(F.lit("Århus "),
                               F.col("doc_id").cast("string")))
        .otherwise(F.concat(F.lit("plain "), F.col("doc_id").cast("string")))
    )
    with_text = docs.select("doc_id", raw.alias("raw_text"))
    norm = unicode_normalize(F.col("raw_text"), "NFC")
    return with_text.select(
        "doc_id",
        norm.alias("norm_text"),
        (norm != F.col("raw_text")).alias("changed"),
        F.length(norm).cast("long").alias("norm_len"),
    ).orderBy("doc_id")


def q_lang_id_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID made hash-checkable (r4): the library's labeled
    16-language/9-script fixture runs through the real vectorized
    classifier and the oracle states every expected label in closed
    form — a trigram-profile or script-rule regression flips a row and
    fails the driver hash (previously lang-id was rows-only)."""
    from open_ocr_spark.dataops.textstats import (
        LANG_ID_FIXTURE,
        with_lang_id,
    )

    df = spark.createDataFrame(
        [(i, lang, text) for i, (lang, text) in enumerate(LANG_ID_FIXTURE)],
        "sample_id long, expected string, text string",
    )
    return (
        with_lang_id(df)
        .select("sample_id", "expected", "lang_pred")
        .orderBy("sample_id")
    )


_BLOCKLIST = ["table scan", "slow join", "batch", "window"]


def q_phrase_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist-phrase gate (C4-style bad-phrase filtering, the list a
    parameter): one codegen'd word-boundary alternation counts hits per
    document — the oracle runs the IDENTICAL generated pattern, so
    escaping, boundaries, case folding and overlap order all
    hash-check."""
    from open_ocr_spark.dataops.quality_rules import phrase_gate

    docs = _t(spark, sf_dir, "documents")
    return phrase_gate(docs, _BLOCKLIST).orderBy("doc_id")


def _rules_page_col():
    """Deterministic multi-line page per document for the quality-rule
    queries: the raw text (single-line word soup in the fixtures) plus
    four constructed lines that flip every Gopher/C4 rule branch both
    ways across doc_ids.  The oracle rebuilds the identical page in SQL,
    so the whole gate is hash-checked end to end."""
    i = F.col("doc_id")
    t = F.coalesce(F.col("text"), F.lit(""))
    tail1 = (
        F.when(i % 4 == 0, F.lit("."))
        .when(i % 4 == 1, F.lit(" …"))
        .when(i % 4 == 2, F.lit(" ### ##"))
        .otherwise(F.lit(""))
    )
    l3 = F.when(
        i % 3 == 0,
        F.lit(
            "This line truly ends with terminal punctuation and the"
            " word of quality."
        ),
    ).otherwise(F.lit("short trailing thought..."))
    l4 = F.when(
        i % 5 == 0, F.lit("Enable javascript to view { this } page now.")
    ).otherwise(
        F.lit("Readers have come here with patience and that shows today.")
    )
    l5 = F.when(
        i % 11 == 0, F.lit("Lorem Ipsum dolor sit amet consectetur.")
    ).otherwise(F.lit("The end of the story arrives quietly tonight."))
    return F.concat(
        t,
        tail1,
        F.lit("\n- bullet item number "),
        (i % 7).cast("string"),
        F.lit("\n"),
        l3,
        F.lit("\n"),
        l4,
        F.lit("\n"),
        l5,
    )


_RULES_PAGE_SQL = """coalesce(text, '')
            || CASE doc_id % 4 WHEN 0 THEN '.' WHEN 1 THEN ' …'
                    WHEN 2 THEN ' ### ##' ELSE '' END
            || chr(10) || '- bullet item number ' || (doc_id % 7)::VARCHAR
            || chr(10) || CASE WHEN doc_id % 3 = 0
                   THEN 'This line truly ends with terminal punctuation and the word of quality.'
                   ELSE 'short trailing thought...' END
            || chr(10) || CASE WHEN doc_id % 5 = 0
                   THEN 'Enable javascript to view { this } page now.'
                   ELSE 'Readers have come here with patience and that shows today.' END
            || chr(10) || CASE WHEN doc_id % 11 = 0
                   THEN 'Lorem Ipsum dolor sit amet consectetur.'
                   ELSE 'The end of the story arrives quietly tonight.' END"""


def q_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-level quality rules (Rae et al. 2021, table A1)
    over constructed multi-line pages: per-rule booleans plus the
    integer evidence counters, all in one codegen'd projection — zero
    shuffles, integer-exact ratios (symbols*10 <= words, never a
    float).  The oracle rebuilds the page and every counter in DuckDB
    list SQL, so a split, counter, or threshold bug breaks the hash."""
    from open_ocr_spark.dataops.quality_rules import gopher_gate

    docs = (
        _t(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .select("doc_id", _rules_page_col().alias("text"))
    )
    return gopher_gate(docs).select(
        "doc_id",
        "n_words",
        "n_word_chars",
        "n_alpha_words",
        "n_stop_hits",
        "n_symbol_marks",
        "n_lines",
        "n_bullet_lines",
        "n_ellipsis_lines",
        "rule_word_count",
        "rule_mean_word_len",
        "rule_symbol_ratio",
        "rule_bullet_lines",
        "rule_ellipsis_lines",
        "rule_alpha_words",
        "rule_stop_words",
        "keep",
    )


def q_c4_line_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020 §2.2) over the same
    constructed pages: keep lines ending in terminal punctuation with
    >= 5 words and no 'javascript'; gate pages on braces, 'lorem
    ipsum', and a >= 3-sentence minimum.  text_clean itself is in the
    hashed output, so the kept-line set and join order are pinned
    byte-exactly."""
    from open_ocr_spark.dataops.quality_rules import c4_clean

    docs = (
        _t(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .select("doc_id", _rules_page_col().alias("text"))
    )
    return c4_clean(docs).select(
        "doc_id",
        "text_clean",
        "n_lines_kept",
        "n_sentences",
        "has_brace",
        "has_lorem",
        "keep",
    )


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (dataops/search.py) for a 3-term query over
    the documents corpus: Robertson idf, length-normalized tf against
    the corpus average.  The query-term filter sits directly on the
    token explode so only query-term postings ever shuffle; df and
    corpus stats broadcast.  Scores round to 4dp (the repo's float
    contract); no top-k cutoff on the hashed surface, so ranking is
    fully value-checked without cutoff-tie sensitivity."""
    from open_ocr_spark.dataops.search import bm25_rank

    docs = _t(spark, sf_dir, "documents")
    return (
        bm25_rank(docs, ["spark", "vector", "hash"])
        .select(
            "doc_id",
            "n_terms_matched",
            F.round("score", 4).alias("score_e4"),
        )
        .orderBy("doc_id")
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keyword heads (r5, dataops/search.py
    tfidf_top_terms): top-3 terms per document under the frozen
    integer-only ranking (tf DESC, df ASC, term ASC), with the sklearn
    smooth-idf weight ln((1+N)/(1+df))+1 reported at 4dp.  The oracle
    rebuilds tf/df/N and replays the same row_number ranking — a
    ranking-key slip (float in the sort, wrong tie-break), an
    unsmoothed idf, or a df computed over postings instead of documents
    all break the hash."""
    from open_ocr_spark.dataops.search import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_top_terms(docs, k=3).orderBy("doc_id", "rank")


def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram top-k (dataops/textstats.top_ngrams): the canonical
    count-everything job — two-phase hash aggregate, TakeOrdered top-50
    with a deterministic total order (count desc, ngram asc), never a
    global sort of the corpus."""
    from open_ocr_spark.dataops.textstats import top_ngrams

    return top_ngrams(_t(spark, sf_dir, "documents"), n=2, k=50)


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear classifier serving (dataops/classifier.py): hashing-trick
    weights, mean-pool, sigmoid — the CCNet/fastText quality-gate shape
    with an exact int64 fixed-point accumulator, so labels are
    integer-exact at any parallelism and the only float is the reported
    probability (4dp contract).  Oracle recomputes every md5 weight in
    SQL."""
    from open_ocr_spark.dataops.classifier import hashed_linear_score

    docs = _t(spark, sf_dir, "documents")
    return (
        hashed_linear_score(docs)
        .select(
            "doc_id",
            "n_tokens",
            "weight_sum",
            F.round("prob", 4).alias("prob_e4"),
            "label",
        )
        .orderBy("doc_id")
    )


def q_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed classifier TRAINING (r5, dataops/classifier.py
    perceptron_train — VERDICT r4 item 5): two integer-exact batch-
    perceptron epochs over the documents corpus with in-corpus labels
    (y=+1 for lang='en', the CCNet reference-vs-crawl shape), no collect,
    per-epoch work one term equi-join + two hash aggregates. The oracle
    REPLAYS BOTH EPOCHS as an unrolled CTE (score under w, misclassify
    with the score>=0 tie rule, sum y*cnt deltas, full-outer merge), so
    tokenization, tie-breaks and every weight value hash-check."""
    from open_ocr_spark.dataops.classifier import perceptron_train

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.when(F.col("lang") == "en", F.lit(1))
        .otherwise(F.lit(-1))
        .alias("y"),
    )
    return perceptron_train(docs, iters=2).orderBy("term")


def _classifier_train_oracle(iters: int = 2) -> str:
    """Unrolled-CTE replay of perceptron_train: w0 is empty, epoch i
    scores under w{i-1} (missing terms = 0), misclassifies with the
    score>=0 -> +1 tie rule, and merges sum(y*cnt) over misclassified
    docs into w{i}."""
    ctes = [
        f"""toks AS (
            SELECT doc_id, term, count(*)::BIGINT AS cnt
            FROM (
                SELECT doc_id,
                       unnest({words_sql("lower(coalesce(text, ''))")}) AS term
                FROM documents
            )
            GROUP BY doc_id, term
        )""",
        """labels AS (
            SELECT doc_id,
                   CASE WHEN lang = 'en' THEN 1 ELSE -1 END::BIGINT AS y
            FROM documents
        )""",
        "w0 AS (SELECT '' AS term, 0::BIGINT AS w WHERE false)",
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""s{i} AS (
            SELECT t.doc_id, sum(w.w * t.cnt)::BIGINT AS score
            FROM toks t JOIN w{i - 1} w USING (term)
            GROUP BY t.doc_id
        )""")
        ctes.append(f"""m{i} AS (
            SELECT l.doc_id, l.y
            FROM labels l LEFT JOIN s{i} s USING (doc_id)
            WHERE (CASE WHEN coalesce(s.score, 0) >= 0
                        THEN 1 ELSE -1 END) <> l.y
        )""")
        ctes.append(f"""w{i} AS (
            SELECT coalesce(w.term, d.term) AS term,
                   (coalesce(w.w, 0) + coalesce(d.d, 0))::BIGINT AS w
            FROM w{i - 1} w
            FULL OUTER JOIN (
                SELECT t.term, sum(m.y * t.cnt)::BIGINT AS d
                FROM m{i} m JOIN toks t USING (doc_id)
                GROUP BY t.term
            ) d ON w.term = d.term
        )""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT term, w AS weight FROM w{iters} WHERE w <> 0 "
        "ORDER BY term"
    )


def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease (dataops/textstats.with_readability): exact
    integer word/sentence/vowel-group counts in one codegen'd
    projection, float only in the final formula (4dp contract).  The
    oracle replays the identical expression shape in DuckDB."""
    from open_ocr_spark.dataops.textstats import with_readability

    docs = _t(spark, sf_dir, "documents")
    return (
        with_readability(docs)
        .select(
            "doc_id",
            "n_words",
            "n_sentences",
            "n_syllables",
            F.round("flesch", 4).alias("flesch_e4"),
        )
        .orderBy("doc_id")
    )


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning (dataops/bpe_train.py): 8 rounds of
    corpus-global pair-count argmax over the word histogram, ties broken
    (lhs, rhs) ascending.  The oracle replays the ENTIRE training run in
    SQL — 8 unrolled stages, each with its own pair-count aggregate,
    1-row argmax, and space-delimited string-replace merge (replace's
    left-to-right non-overlapping scan IS greedy BPE merging, identical
    on both engines) — so a histogram, pair-window, tie-break, or merge-
    application bug anywhere in 8 iterations breaks the hash."""
    from open_ocr_spark.dataops.bpe_train import learn_bpe_merges, merges_df

    docs = _t(spark, sf_dir, "documents")
    return merges_df(spark, learn_bpe_merges(docs, k=8)).orderBy(
        "merge_rank"
    )


def _bpe_train_stages(k: int = 8) -> list:
    """The shared WITH-stages of the DuckDB BPE-training replay: word
    histogram s0, then per-rank pair counts p_i, argmax b_i, merged
    vocab s_i (see q_bpe_train for the storage-form contract)."""
    stages = [
        f"""tok AS (
            SELECT unnest({words_sql("coalesce(text, '')")}) AS word
            FROM documents
        ),
        w AS (SELECT word, count(*)::BIGINT AS freq FROM tok GROUP BY word),
        s0 AS (
            -- storage form: double-space-joined symbols, single-space pad
            -- (' l  o  w '), so merge-by-replace keeps adjacent boundaries
            SELECT ' ' || rtrim(regexp_replace(word, '(.)', '\\1  ', 'g'))
                   || ' ' AS syms,
                   freq
            FROM w
        )"""
    ]
    for i in range(1, k + 1):
        stages.append(
            f"""p{i} AS (
            SELECT sl[g.i] AS lhs, sl[g.i + 1] AS rhs,
                   sum(freq)::BIGINT AS pair_freq
            FROM (SELECT list_filter(string_split(syms, ' '),
                                     x -> x <> '') AS sl, freq
                  FROM s{i - 1}) t,
                 UNNEST(generate_series(1, len(t.sl) - 1)) AS g(i)
            GROUP BY 1, 2
        ),
        b{i} AS (
            SELECT lhs, rhs, pair_freq FROM p{i}
            ORDER BY pair_freq DESC, lhs, rhs LIMIT 1
        ),
        s{i} AS (
            SELECT replace(syms,
                           ' ' || b.lhs || '  ' || b.rhs || ' ',
                           ' ' || b.lhs || b.rhs || ' ') AS syms,
                   freq
            FROM s{i - 1}, b{i} b
        )"""
        )
    return stages


def _bpe_oracle_sql(k: int = 8) -> str:
    """Generated k-stage DuckDB replay of learn_bpe_merges (see
    q_bpe_train)."""
    stages = _bpe_train_stages(k)
    unions = "\n            UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS merge_rank, lhs, rhs, pair_freq"
        f" FROM b{i}"
        for i in range(1, k + 1)
    )
    return (
        "WITH "
        + ",\n        ".join(stages)
        + f"\n        SELECT * FROM ({unions}) ORDER BY merge_rank"
    )


def q_bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst-only BPE tokenization with the learned merge table
    (dataops/bpe_train.apply_bpe_merges): the 8 merges replay per word
    as literal replaces inside transform() — zero Python per row, zero
    shuffles in the encode stage.  The oracle re-learns the same 8
    merges in SQL, then applies them per word position and re-assembles
    each document's token stream in order, so training, greedy merge
    application, and token-order preservation are all hash-checked."""
    from open_ocr_spark.dataops.bpe_train import (
        apply_bpe_merges,
        learn_bpe_merges,
    )

    docs = _t(spark, sf_dir, "documents")
    merges = learn_bpe_merges(docs, k=8)
    return (
        apply_bpe_merges(docs, merges)
        .select(
            "doc_id",
            F.size("bpe_tokens").alias("n_tokens"),
            F.concat_ws(" ", F.slice("bpe_tokens", 1, 8)).alias(
                "head_tokens"
            ),
        )
        .orderBy("doc_id")
    )


def _bpe_encode_oracle_sql(k: int = 8) -> str:
    """Generated DuckDB replay of train-then-encode (see
    q_bpe_encode_docs)."""
    stages = _bpe_train_stages(k)
    stages.append(
        f"""d AS (
            SELECT doc_id, g.i AS pos, wl[g.i] AS word
            FROM (SELECT doc_id,
                         {words_sql("coalesce(text, '')")} AS wl
                  FROM documents) t,
                 UNNEST(generate_series(1, len(t.wl))) AS g(i)
        ),
        e0 AS (
            SELECT doc_id, pos,
                   ' ' || rtrim(regexp_replace(word, '(.)', '\\1  ', 'g'))
                   || ' ' AS syms
            FROM d
        )"""
    )
    for i in range(1, k + 1):
        stages.append(
            f"""e{i} AS (
            SELECT doc_id, pos,
                   replace(syms,
                           ' ' || b.lhs || '  ' || b.rhs || ' ',
                           ' ' || b.lhs || b.rhs || ' ') AS syms
            FROM e{i - 1}, b{i} b
        )"""
        )
    stages.append(
        f"""per AS (
            SELECT doc_id,
                   flatten(array_agg(
                       list_filter(string_split(syms, ' '), x -> x <> '')
                       ORDER BY pos)) AS toks
            FROM e{k} GROUP BY doc_id
        )"""
    )
    return (
        "WITH "
        + ",\n        ".join(stages)
        + """
        SELECT docs.doc_id,
               coalesce(len(per.toks), 0)::INT AS n_tokens,
               coalesce(array_to_string(per.toks[1:8], ' '), '')
                   AS head_tokens
        FROM documents docs LEFT JOIN per ON docs.doc_id = per.doc_id
        ORDER BY docs.doc_id"""
    )


def _phrase_gate_oracle() -> str:
    # generated from the SAME alternation builder the Spark plan uses —
    # one source of truth for escaping and longest-first order
    from open_ocr_spark.dataops.quality_rules import _phrase_regex

    pat = _phrase_regex(_BLOCKLIST).replace("'", "''")
    return f"""
        SELECT doc_id,
               len(regexp_extract_all(coalesce(text, ''),
                                      '{pat}', 0))::BIGINT AS n_hits,
               len(regexp_extract_all(coalesce(text, ''),
                                      '{pat}', 0)) > 0 AS blocked
        FROM documents
        ORDER BY doc_id
    """


def _lang_id_fixture_oracle() -> str:
    from open_ocr_spark.dataops.textstats import LANG_ID_FIXTURE

    values = ", ".join(
        f"({i}, '{lang}', '{lang}')"
        for i, (lang, _) in enumerate(LANG_ID_FIXTURE)
    )
    return f"""
        SELECT * FROM (VALUES {values})
            AS t(sample_id, expected, lang_pred)
        ORDER BY sample_id
    """


ORACLES["token_counts"] = f"""
        SELECT doc_id,
               CASE WHEN length({collapse_sql("text")}) = 0
                    THEN 0
                    ELSE len({tokens_sql("text")})
               END AS n_tokens
        FROM documents
        ORDER BY doc_id
    """


ORACLES["bpe_token_counts"] = f"""
        SELECT doc_id,
               CASE WHEN length({collapse_sql("text")}) = 0
                    THEN 0
                    ELSE len({tokens_sql("text")})
               END AS n_tokens,
               len(regexp_extract_all(text, '{BPE_SPLIT_RE}')) AS n_bpe_tokens
        FROM documents
        ORDER BY doc_id
    """


ORACLES["pii_scrub"] = """
        SELECT doc_id,
               text || ' contact <EMAIL> or call <PHONE>' AS scrubbed
        FROM documents
        ORDER BY doc_id
    """


ORACLES["repetition_stats"] = f"""
        WITH base AS (
            SELECT doc_id,
                   CASE WHEN length({collapse_sql("text")}) = 0
                        THEN []::VARCHAR[]
                        ELSE {tokens_sql("text")}
                   END AS t
            FROM documents
        ),
        bi AS (
            SELECT doc_id, len(t) AS n_tokens,
                   CASE WHEN len(t) < 2 THEN []::VARCHAR[]
                        ELSE list_transform(generate_series(1, len(t) - 1),
                                            i -> t[i] || ' ' || t[i + 1])
                   END AS bigrams
            FROM base
        ),
        biagg AS (
            SELECT doc_id, n_tokens,
                   CASE WHEN len(bigrams) > 0
                        THEN floor((1.0 - len(list_distinct(bigrams)) / len(bigrams))
                                   * 10000.0 + 0.5) / 10000.0
                        ELSE 0.0 END AS dup_bigram_frac
            FROM bi
        ),
        tc AS (
            SELECT doc_id, tok, count(*) AS c
            FROM (SELECT doc_id, unnest(t) AS tok FROM base)
            GROUP BY doc_id, tok
        ),
        top AS (
            SELECT doc_id, max(c) / sum(c) AS f FROM tc GROUP BY doc_id
        )
        SELECT b.doc_id, b.n_tokens, b.dup_bigram_frac,
               floor(coalesce(top.f, 0.0) * 10000.0 + 0.5) / 10000.0
                   AS top_token_frac
        FROM biagg b LEFT JOIN top USING (doc_id)
        ORDER BY b.doc_id
    """


ORACLES["quality_scores"] = f"""
        WITH base AS (
            SELECT doc_id,
                   length(text) AS n_chars,
                   CASE WHEN length({collapse_sql("text")}) = 0
                        THEN 0
                        ELSE len({tokens_sql("text")})
                   END AS n_tokens,
                   length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha
            FROM documents
        ), derived AS (
            SELECT doc_id, n_tokens,
                   CASE WHEN n_tokens > 0
                        THEN (n_chars - (n_tokens - 1)) / n_tokens
                        ELSE 0.0 END AS avg_tok,
                   CASE WHEN n_chars > 0 THEN n_alpha / n_chars
                        ELSE 0.0 END AS alpha_ratio
            FROM base
        )
        SELECT doc_id, n_tokens,
               round(avg_tok, 4) AS avg_token_len,
               round(alpha_ratio, 4) AS alpha_ratio,
               floor((least(1.0, n_tokens / 100.0) * 0.5
                      + alpha_ratio * 0.3
                      + least(1.0, avg_tok / 8.0) * 0.2) * 10000.0 + 0.5)
                   / 10000.0 AS quality_score
        FROM derived
        ORDER BY doc_id
    """


ORACLES["doc_fingerprints"] = f"""
        SELECT doc_id,
               md5(lower({collapse_sql("text")}))
                   AS fingerprint
        FROM documents
        ORDER BY doc_id
    """


ORACLES["gopher_gate"] = f"""
        WITH p AS (
            SELECT doc_id, {_RULES_PAGE_SQL} AS t
            FROM documents
        ), w AS (
            SELECT doc_id,
                   {words_sql("t")} AS words,
                   list_transform(regexp_split_to_array(t, '\\n'),
                                  x -> trim(x)) AS lines,
                   t
            FROM p
        ), m AS (
            SELECT doc_id,
                   len(words)::BIGINT AS n_words,
                   coalesce(list_sum(list_transform(words,
                       x -> length(x))), 0)::BIGINT AS n_word_chars,
                   len(list_filter(words,
                       x -> regexp_matches(x, '[A-Za-z]')))::BIGINT
                       AS n_alpha_words,
                   (list_contains(list_transform(words, x -> lower(x)), 'the')::BIGINT
                    + list_contains(list_transform(words, x -> lower(x)), 'be')::BIGINT
                    + list_contains(list_transform(words, x -> lower(x)), 'to')::BIGINT
                    + list_contains(list_transform(words, x -> lower(x)), 'of')::BIGINT
                    + list_contains(list_transform(words, x -> lower(x)), 'and')::BIGINT
                    + list_contains(list_transform(words, x -> lower(x)), 'that')::BIGINT
                    + list_contains(list_transform(words, x -> lower(x)), 'have')::BIGINT
                    + list_contains(list_transform(words, x -> lower(x)), 'with')::BIGINT
                   ) AS n_stop_hits,
                   ((length(t) - length(replace(t, '#', '')))
                    + (length(t) - length(replace(t, '...', ''))) // 3
                    + (length(t) - length(replace(t, '…', ''))))::BIGINT
                       AS n_symbol_marks,
                   len(lines)::BIGINT AS n_lines,
                   len(list_filter(lines, s -> left(s, 1) IN
                       ('-', '*', '•', '●', '▪')))::BIGINT AS n_bullet_lines,
                   len(list_filter(lines, s -> right(s, 3) = '...'
                       OR right(s, 1) = '…'))::BIGINT AS n_ellipsis_lines
            FROM w
        )
        SELECT doc_id, n_words, n_word_chars, n_alpha_words, n_stop_hits,
               n_symbol_marks, n_lines, n_bullet_lines, n_ellipsis_lines,
               (n_words >= 50 AND n_words <= 100000) AS rule_word_count,
               (n_word_chars >= 3 * n_words
                AND n_word_chars <= 10 * n_words) AS rule_mean_word_len,
               (n_symbol_marks * 10 <= n_words) AS rule_symbol_ratio,
               (n_bullet_lines * 10 <= 9 * n_lines) AS rule_bullet_lines,
               (n_ellipsis_lines * 10 <= 3 * n_lines) AS rule_ellipsis_lines,
               (n_alpha_words * 5 >= 4 * n_words) AS rule_alpha_words,
               (n_stop_hits >= 2) AS rule_stop_words,
               ((n_words >= 50 AND n_words <= 100000)
                AND (n_word_chars >= 3 * n_words
                     AND n_word_chars <= 10 * n_words)
                AND n_symbol_marks * 10 <= n_words
                AND n_bullet_lines * 10 <= 9 * n_lines
                AND n_ellipsis_lines * 10 <= 3 * n_lines
                AND n_alpha_words * 5 >= 4 * n_words
                AND n_stop_hits >= 2) AS keep
        FROM m
        ORDER BY doc_id
    """


ORACLES["c4_line_clean"] = f"""
        WITH p AS (
            SELECT doc_id, {_RULES_PAGE_SQL} AS t
            FROM documents
        ), k AS (
            SELECT doc_id, t,
                   list_filter(
                       list_transform(regexp_split_to_array(t, '\\n'),
                                      x -> trim(x)),
                       s -> right(s, 1) IN ('.', '!', '?', '"')
                            AND len({words_sql("s")}) >= 5
                            AND NOT contains(lower(s), 'javascript')
                   ) AS kept
            FROM p
        ), c AS (
            SELECT doc_id, t, kept,
                   coalesce(array_to_string(kept, chr(10)), '') AS text_clean
            FROM k
        )
        SELECT doc_id, text_clean,
               len(kept)::BIGINT AS n_lines_kept,
               (length(text_clean) - length(regexp_replace(
                   text_clean, '[.!?]', '', 'g')))::BIGINT AS n_sentences,
               contains(t, '{{') AS has_brace,
               contains(lower(t), 'lorem ipsum') AS has_lorem,
               ((length(text_clean) - length(regexp_replace(
                    text_clean, '[.!?]', '', 'g'))) >= 3
                AND NOT contains(t, '{{')
                AND NOT contains(lower(t), 'lorem ipsum')) AS keep
        FROM c
        ORDER BY doc_id
    """


ORACLES["bpe_train"] = _bpe_oracle_sql(8)


ORACLES["bpe_encode_docs"] = _bpe_encode_oracle_sql(8)


ORACLES["bm25_search"] = f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest({words_sql("lower(coalesce(text, ''))")}) AS term
            FROM documents
        ),
        lens AS (
            SELECT doc_id,
                   len({words_sql("lower(coalesce(text, ''))")})::BIGINT AS dl
            FROM documents
        ),
        stats AS (
            SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM lens
        ),
        tf AS (
            SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks
            WHERE term IN ('spark', 'vector', 'hash') GROUP BY 1, 2
        ),
        dfx AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
        scored AS (
            -- same operand order/associativity as the Spark expression
            SELECT tf.doc_id,
                   ln(1.0 + (s.n_docs - dfx.df + 0.5) / (dfx.df + 0.5))
                   * (tf.tf * 2.2
                      / (tf.tf + 1.2 * (0.25 + 0.75 * lens.dl / s.avgdl)))
                   AS term_score
            FROM tf JOIN dfx USING (term) JOIN lens USING (doc_id), stats s
        )
        SELECT doc_id, count(*)::BIGINT AS n_terms_matched,
               round(sum(term_score), 4) AS score_e4
        FROM scored GROUP BY doc_id ORDER BY doc_id
    """


ORACLES["top_bigrams"] = f"""
        WITH toks AS (
            SELECT {words_sql("lower(coalesce(text, ''))")} AS tl
            FROM documents
        ),
        grams AS (
            SELECT tl[g.i] || ' ' || tl[g.i + 1] AS ngram
            FROM toks, UNNEST(generate_series(1, len(tl) - 1)) AS g(i)
        )
        SELECT ngram, count(*)::BIGINT AS n_occurrences
        FROM grams GROUP BY ngram
        ORDER BY n_occurrences DESC, ngram
        LIMIT 50
    """


ORACLES["quality_classifier"] = f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest({words_sql("lower(coalesce(text, ''))")}) AS term
            FROM documents
        ),
        sums AS (
            SELECT doc_id,
                   count(*)::BIGINT AS n_tokens,
                   sum((('0x' || substring(md5(term), 1, 8))::BIGINT
                        % 2147483647) % 2001 - 1000)::BIGINT AS weight_sum
            FROM toks GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(s.n_tokens, 0)::BIGINT AS n_tokens,
               coalesce(s.weight_sum, 0)::BIGINT AS weight_sum,
               round(1.0 / (1.0 + exp(-(CASE WHEN coalesce(s.n_tokens, 0) > 0
                   THEN coalesce(s.weight_sum, 0)
                        / (1000.0 * s.n_tokens)
                   ELSE 0.0 END))), 4) AS prob_e4,
               coalesce(s.weight_sum, 0) >= 0 AS label
        FROM documents d LEFT JOIN sums s ON d.doc_id = s.doc_id
        ORDER BY d.doc_id
    """


ORACLES["readability_scores"] = f"""
        WITH counts AS (
            SELECT doc_id,
                   CASE WHEN length({collapse_sql("coalesce(text, '')")}) = 0
                        THEN 0
                        ELSE len({tokens_sql("coalesce(text, '')")})
                   END::BIGINT AS n_words,
                   greatest(1, len(regexp_extract_all(
                       coalesce(text, ''), '[.!?]+')))::BIGINT
                       AS n_sentences,
                   len(regexp_extract_all(lower(coalesce(text, '')),
                       '[aeiouy]+'))::BIGINT AS n_syllables
            FROM documents
        )
        SELECT doc_id, n_words, n_sentences, n_syllables,
               round(CASE WHEN n_words > 0
                     THEN 206.835 - 1.015 * (n_words / n_sentences)
                          - 84.6 * (n_syllables / n_words)
                     ELSE 0.0 END, 4) AS flesch_e4
        FROM counts
        ORDER BY doc_id
    """


ORACLES["unicode_nfc"] = """
        WITH raw AS (
            SELECT doc_id,
                   CASE doc_id % 4
                     WHEN 0 THEN 'cafe' || chr(769) || ' ' || doc_id::VARCHAR
                     WHEN 1 THEN 'caf' || chr(233) || ' ' || doc_id::VARCHAR
                     WHEN 2 THEN 'A' || chr(778) || 'rhus ' || doc_id::VARCHAR
                     ELSE 'plain ' || doc_id::VARCHAR
                   END AS raw_text
            FROM documents
        )
        SELECT doc_id,
               nfc_normalize(raw_text) AS norm_text,
               nfc_normalize(raw_text) <> raw_text AS changed,
               CAST(length(nfc_normalize(raw_text)) AS BIGINT) AS norm_len
        FROM raw
        ORDER BY doc_id
    """


ORACLES["chunk_documents"] = f"""
        WITH docs2 AS (
            SELECT doc_id, {split_spaces_sql("coalesce(text, '')")} AS w
            FROM documents
        ),
        nc AS (
            SELECT doc_id, w,
                   1 + greatest(0, (len(w) - 16 + 12 - 1) // 12) AS n_chunks
            FROM docs2
        )
        SELECT d.doc_id,
               CAST(u.k AS INTEGER) AS chunk_idx,
               md5(array_to_string(w[u.k*12+1 : u.k*12+16], ' '))
                   AS chunk_md5,
               CAST(least(len(w) - u.k*12, 16) AS INTEGER) AS n_tokens
        FROM nc d
        JOIN (SELECT unnest(range(0, 64)) AS k) u ON u.k < d.n_chunks
        ORDER BY doc_id, chunk_idx
    """


ORACLES["ngram_fluency"] = f"""
        WITH docs2 AS (
            SELECT doc_id, {split_spaces_sql("coalesce(text, '')")} AS w
            FROM documents
        ),
        bound AS (SELECT max(len(w)) AS mx FROM docs2),
        pairs AS (
            SELECT d.doc_id, u.i AS pos, w[u.i+1] AS w1, w[u.i+2] AS w2
            FROM docs2 d
            JOIN (SELECT unnest(range(0, (SELECT mx FROM bound))) AS i) u
              ON u.i <= len(d.w) - 2
        ),
        ref AS (
            SELECT w1, w2, count(*) AS c2
            FROM pairs WHERE doc_id % 10 = 0 GROUP BY w1, w2
        ),
        c1t AS (SELECT w1, sum(c2) AS c1 FROM ref GROUP BY w1),
        model AS (
            SELECT r.w1, r.w2, 1000000 * r.c2 AS num, c.c1
            FROM ref r JOIN c1t c USING (w1)
        ),
        scored AS (
            SELECT p.doc_id, coalesce(m.num // m.c1, 0) AS s
            FROM pairs p
            LEFT JOIN model m ON m.w1 = p.w1 AND m.w2 = p.w2
        ),
        agg AS (
            SELECT doc_id, count(*) AS n_pairs,
                   sum(s) // count(*) AS fluency
            FROM scored GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(a.n_pairs, 0) AS BIGINT) AS n_pairs,
               CAST(coalesce(a.fluency, 0) AS BIGINT) AS fluency
        FROM docs2 d LEFT JOIN agg a USING (doc_id)
        ORDER BY d.doc_id
    """


ORACLES["tfidf_top_terms"] = f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest({words_sql("lower(coalesce(text, ''))")}) AS term
            FROM documents
        ),
        tf AS (
            SELECT term, doc_id, count(*) AS tf
            FROM toks GROUP BY term, doc_id
        ),
        dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        n AS (SELECT count(*) AS n_docs FROM documents),
        ranked AS (
            SELECT t.doc_id, t.term, t.tf, d.df,
                   row_number() OVER (
                       PARTITION BY t.doc_id
                       ORDER BY t.tf DESC, d.df ASC, t.term ASC
                   ) AS rank
            FROM tf t JOIN dft d USING (term)
        )
        SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
               CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
               round(tf * (ln((1 + (SELECT n_docs FROM n))::DOUBLE
                               / (1 + df)::DOUBLE) + 1.0), 4) AS tfidf
        FROM ranked
        WHERE rank <= 3
        ORDER BY doc_id, rank
    """


ORACLES["ccnet_buckets"] = f"""
        WITH docs2 AS (
            SELECT doc_id, {split_spaces_sql("coalesce(text, '')")} AS w
            FROM documents
        ),
        bound AS (SELECT max(len(w)) AS mx FROM docs2),
        pairs AS (
            SELECT d.doc_id, u.i AS pos, w[u.i+1] AS w1, w[u.i+2] AS w2
            FROM docs2 d
            JOIN (SELECT unnest(range(0, (SELECT mx FROM bound))) AS i) u
              ON u.i <= len(d.w) - 2
        ),
        ref AS (
            SELECT w1, w2, count(*) AS c2
            FROM pairs WHERE doc_id % 10 = 0 GROUP BY w1, w2
        ),
        c1t AS (SELECT w1, sum(c2) AS c1 FROM ref GROUP BY w1),
        model AS (
            SELECT r.w1, r.w2, 1000000 * r.c2 AS num, c.c1
            FROM ref r JOIN c1t c USING (w1)
        ),
        scored AS (
            SELECT p.doc_id, coalesce(m.num // m.c1, 0) AS s
            FROM pairs p
            LEFT JOIN model m ON m.w1 = p.w1 AND m.w2 = p.w2
        ),
        agg AS (
            SELECT doc_id, sum(s) // count(*) AS fluency
            FROM scored GROUP BY doc_id
        ),
        scores AS (
            SELECT d.doc_id, d.lang,
                   CAST(coalesce(a.fluency, 0) AS BIGINT) AS fluency
            FROM documents d LEFT JOIN agg a USING (doc_id)
        ),
        hist AS (
            SELECT lang, fluency, count(*) AS cnt
            FROM scores GROUP BY lang, fluency
        ),
        cum AS (
            SELECT lang, fluency,
                   sum(cnt) OVER (PARTITION BY lang ORDER BY fluency DESC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum,
                   sum(cnt) OVER (PARTITION BY lang) AS n
            FROM hist
        ),
        cuts AS (
            SELECT lang, fluency,
                   CASE WHEN cum * 3 <= 1 * n + 2 THEN 'head'
                        WHEN cum * 3 <= 2 * n + 2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM cum
        )
        SELECT s.doc_id, s.lang, s.fluency, c.bucket
        FROM scores s JOIN cuts c USING (lang, fluency)
        ORDER BY s.doc_id
    """


ORACLES["classifier_train"] = _classifier_train_oracle()


ORACLES["char_entropy"] = """
    WITH chars AS (
        SELECT doc_id, unnest(string_split(coalesce(text, ''), '')) AS ch
        FROM documents
    ),
    hist AS (
        SELECT doc_id, ch, count(*) AS c
        FROM chars WHERE ch != '' GROUP BY doc_id, ch
    ),
    tot AS (SELECT doc_id, sum(c) AS n FROM hist GROUP BY doc_id),
    ent AS (
        SELECT h.doc_id, max(t.n) AS n_chars,
               round(-sum((h.c::DOUBLE / t.n) * log2(h.c::DOUBLE / t.n)), 4)
                   AS entropy_bits
        FROM hist h JOIN tot t USING (doc_id) GROUP BY h.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(e.n_chars, 0) AS BIGINT) AS n_chars,
           coalesce(e.entropy_bits, 0.0) AS entropy_bits
    FROM documents d LEFT JOIN ent e ON e.doc_id = d.doc_id
    ORDER BY d.doc_id
"""


ORACLES["phrase_gate"] = _phrase_gate_oracle()


ORACLES["lang_id_fixture"] = _lang_id_fixture_oracle()


def q_cms_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters (r5, dataops/cms.py): build a 4×16 md5
    sketch over the corpus token stream (width far below the vocab, so
    collisions are guaranteed and the min-over-rows estimate is what the
    hash checks), estimate every distinct term,
    and report (term, true_cnt, cms_est) side by side.  The oracle
    rebuilds the identical sketch in SQL — every collision reproduces,
    so the estimates (not just the ≥-truth invariant) are value-hashed;
    a hash-salt slip, a min-over-rows bug, or a missing-bucket coalesce
    breaks it."""
    from open_ocr_spark.dataops.cms import cms_build, cms_estimate

    docs = _t(spark, sf_dir, "documents")
    tokens = docs.select(
        F.explode(words(F.lower(F.coalesce(F.col("text"), F.lit("")))))
        .alias("key")
    )
    truth = tokens.groupBy("key").agg(
        F.count("*").cast("long").alias("true_cnt")
    )
    # width 16 << vocab: collisions are GUARANTEED, so the min-over-rows
    # logic (not just the happy path) is what the hash checks
    sketch = cms_build(tokens, depth=4, width=16)
    est = cms_estimate(sketch, truth.select("key"), depth=4, width=16)
    return (
        truth.join(est, "key")
        .select(F.col("key").alias("term"), "true_cnt", "cms_est")
        .orderBy("term")
    )


ORACLES["cms_term_counts"] = f"""
        WITH clean AS (
            SELECT unnest({words_sql("lower(coalesce(text, ''))")}) AS key
            FROM documents
        ),
        truth AS (
            SELECT key, count(*) AS true_cnt FROM clean GROUP BY key
        ),
        sketch AS (
            SELECT i.i AS row,
                   ('0x' || substr(md5(i.i::VARCHAR || ':' || key), 1, 8))
                       ::BIGINT % 16 AS bucket,
                   count(*) AS cnt
            FROM clean, (SELECT unnest(range(0, 4)) AS i) i
            GROUP BY 1, 2
        ),
        probes AS (
            SELECT t.key, i.i AS row,
                   ('0x' || substr(md5(i.i::VARCHAR || ':' || t.key), 1, 8))
                       ::BIGINT % 16 AS bucket
            FROM truth t, (SELECT unnest(range(0, 4)) AS i) i
        ),
        est AS (
            SELECT p.key, min(coalesce(s.cnt, 0)) AS cms_est
            FROM probes p
            LEFT JOIN sketch s ON s.row = p.row AND s.bucket = p.bucket
            GROUP BY p.key
        )
        SELECT t.key AS term,
               CAST(t.true_cnt AS BIGINT) AS true_cnt,
               CAST(e.cms_est AS BIGINT) AS cms_est
        FROM truth t JOIN est e USING (key)
        ORDER BY term
    """


def q_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based sentence segmentation (r5, dataops/sentences.py): a
    differential test — Spark's Java-regex chain and DuckDB's RE2 chain
    each segment the SAME sentence-rich string built from the corpus
    text (abbreviation guard, decimal guard, quote/bracket closers,
    ?- and !-terminators, no trailing split)."""
    from open_ocr_spark.dataops.sentences import split_sentences

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fixture = F.concat(
        F.lit("Dr. Smith met "),
        F.substring("text", 1, 40),
        F.lit(' on 3.14 units. "Quoted end!" Then (No. '),
        (F.col("doc_id") % 9).cast("string"),
        F.lit(") followed? Yes. The end."),
    )
    src = d.select("doc_id", fixture.alias("text"))
    return split_sentences(src).orderBy("doc_id", "sent_idx")


def _sentence_split_oracle() -> str:
    from open_ocr_spark.dataops.sentences import sentence_split_oracle_sql

    return sentence_split_oracle_sql(
        "SELECT doc_id, 'Dr. Smith met ' || substr(text, 1, 40)"
        " || ' on 3.14 units. \"Quoted end!\" Then (No. '"
        " || (doc_id % 9)::VARCHAR || ') followed? Yes. The end.' AS text"
        " FROM documents"
    )


ORACLES["sentence_split"] = _sentence_split_oracle()


def q_extraction_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-multiset extraction scoring (r5, dataops/evaluate.py): the
    candidate drops the golden's first three tokens and appends a
    five-token promo tail, so precision, recall, and F1 are all
    non-trivial; the oracle replays the entire multiset P/R/F1
    computation, not a closed form."""
    from open_ocr_spark.dataops.evaluate import token_prf

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = split_spaces(F.col("text"))
    candidate = F.concat(
        F.array_join(
            F.slice(toks, 4, F.greatest(F.size(toks) - 3, F.lit(0))), " "
        ),
        F.lit(" promo offer code "),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(" now"),
    )
    golden = d
    cand = d.select("doc_id", candidate.alias("text"))
    return token_prf(golden, cand).orderBy("doc_id")


def _extraction_eval_oracle() -> str:
    from open_ocr_spark.dataops.evaluate import token_prf_oracle_sql

    return token_prf_oracle_sql(
        "SELECT doc_id, text FROM documents",
        "SELECT doc_id,"
        f" coalesce(array_to_string({split_spaces_sql('text')}[4:], ' '),"
        "          CASE WHEN text IS NOT NULL THEN '' END)"
        " || ' promo offer code ' || (doc_id % 7)::VARCHAR || ' now'"
        " AS text FROM documents",
    )


ORACLES["extraction_eval"] = _extraction_eval_oracle()


def q_confusable_skeleton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Homoglyph skeleton (r5, dataops/confusables.py): every 'a'/'e' in
    the corpus text is swapped for its Cyrillic look-alike and odd docs
    get a zero-width space salted in — the skeleton must recover the
    original text exactly and the obfuscation counters must match the
    DuckDB replay of the same translate chain."""
    from open_ocr_spark.dataops.confusables import confusable_stats

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    cyr = F.regexp_replace(
        F.regexp_replace(F.col("text"), "a", "а"), "e", "е"
    )
    obf = F.when(
        F.col("doc_id") % 2 == 1,
        F.concat(F.substring(cyr, 1, 1), F.lit("​"),
                 F.expr("substring(replace(replace(text, 'a', 'а'),"
                        " 'e', 'е'), 2)")),
    ).otherwise(cyr)
    src = d.select("doc_id", obf.alias("text"))
    out = confusable_stats(src)
    return out.select(
        "doc_id", "skeleton",
        F.col("n_zero_width").cast("long").alias("n_zero_width"),
        F.col("n_confusables").cast("long").alias("n_confusables"),
        "obfuscated",
    ).orderBy("doc_id")


def _confusable_skeleton_oracle() -> str:
    from open_ocr_spark.dataops.confusables import (
        confusable_stats_oracle_sql,
    )

    return confusable_stats_oracle_sql(
        "SELECT doc_id,"
        " CASE WHEN doc_id % 2 = 1 THEN"
        "   substr(replace(replace(text, 'a', 'а'), 'e', 'е'), 1, 1)"
        "   || chr(8203)"
        "   || substr(replace(replace(text, 'a', 'а'), 'e', 'е'), 2)"
        " ELSE replace(replace(text, 'a', 'а'), 'e', 'е') END AS text"
        " FROM documents"
    )


ORACLES["confusable_skeleton"] = _confusable_skeleton_oracle()


def q_reflow_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text reflow (r5, dataops/reflow.py): a differential test — the
    Java-regex chain and DuckDB's RE2 chain each reflow the SAME
    layout-damaged page built from the corpus text (wrap-hyphenated
    lowercase word, Navier-Stokes / ISO-8859 compound joins, a soft
    hyphen, a CRLF line wrap, a blank-line run with interior space)."""
    from open_ocr_spark.dataops.reflow import n_paragraphs, reflow_text

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    fixture = F.concat(
        F.lit(
            "Intro line with a hyphen-\n  ated word and the Navier-\n"
            "Stokes / ISO-\n8859 names.\n\nPara two: soft­hyphen, "
        ),
        F.substring("text", 1, 30),
        F.lit("\r\nwrapped CRLF line.\n \n\nTail "),
        (F.col("doc_id") % 7).cast("string"),
    )
    src = d.select("doc_id", fixture.alias("page"))
    return src.select(
        "doc_id",
        reflow_text(F.col("page")).alias("reflowed"),
        n_paragraphs(F.col("page")).alias("n_paras"),
    ).orderBy("doc_id")


def _reflow_oracle() -> str:
    from open_ocr_spark.dataops.reflow import reflow_oracle_sql

    return reflow_oracle_sql(
        "SELECT doc_id,"
        " 'Intro line with a hyphen-' || chr(10) ||"
        " '  ated word and the Navier-' || chr(10) ||"
        " 'Stokes / ISO-' || chr(10) || '8859 names.' ||"
        " chr(10) || chr(10) ||"
        " 'Para two: soft' || chr(173) || 'hyphen, ' ||"
        " substr(coalesce(text, ''), 1, 30) ||"
        " chr(13) || chr(10) || 'wrapped CRLF line.' ||"
        " chr(10) || ' ' || chr(10) || chr(10) ||"
        " 'Tail ' || (doc_id % 7)::VARCHAR AS text"
        " FROM documents"
    )


ORACLES["reflow_text"] = _reflow_oracle()


def q_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake repair (r5, dataops/mojibake.py): four fixture classes
    per doc_id%4 — (0) accent+cp1252-special text corrupted through the
    REAL encode/decode builtins then repaired (round-trip identity, the
    oracle states the clean form), (1) pure ASCII (corruption is
    identity, gate must not fire), (2) genuine Latin-1-ish accents that
    are NOT mojibake (must pass through), (3) supplementary-plane emoji
    (gate must fail closed). A lazy repair, an over-eager repair, or a
    broken gate each flip a class and fail the value hash."""
    from open_ocr_spark.dataops.mojibake import (
        corrupt_to_mojibake,
        is_mojibake,
        repair_mojibake,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    sub = F.substring("text", 1, 20)
    m = F.col("doc_id") % 4
    clean = (
        F.when(m == 0, F.concat(F.lit("Crème brûlée — ‘"), sub,
                                F.lit("’ …€5")))
        .when(m == 1, F.concat(F.lit("plain "), sub))
        .when(m == 2, F.concat(F.lit("café naïve "), sub))
        .otherwise(F.concat(F.lit("emoji 🎉 "), sub))
    )
    damaged = F.when(m <= 1, corrupt_to_mojibake(clean)).otherwise(clean)
    src = d.select("doc_id", damaged.alias("page"))
    return src.select(
        "doc_id",
        repair_mojibake(F.col("page")).alias("repaired"),
        is_mojibake(F.col("page")).alias("was_repaired"),
    ).orderBy("doc_id")


ORACLES["mojibake_repair"] = """
        SELECT doc_id,
               CASE doc_id % 4
                   WHEN 0 THEN 'Crème brûlée — ‘'
                               || substr(coalesce(text, ''), 1, 20)
                               || '’ …€5'
                   WHEN 1 THEN 'plain ' || substr(coalesce(text, ''), 1, 20)
                   WHEN 2 THEN 'café naïve '
                               || substr(coalesce(text, ''), 1, 20)
                   ELSE 'emoji 🎉 ' || substr(coalesce(text, ''), 1, 20)
               END AS repaired,
               doc_id % 4 = 0 AS was_repaired
        FROM documents
        ORDER BY doc_id
    """


def q_infer_column_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV schema inference (r5, dataops/schema_infer.py) over the real
    parse path: each doc is a 6-column CSV written by the stdlib csv
    twin — int, float, ISO-date, boolean, string, and a trap column
    that is numeric except one value (falls to varchar) and carries
    one empty cell (counted as a null, ignored by inference). The
    closed-form oracle pins the specificity lattice, the header row
    exemption, and the null accounting."""
    def build(i: int) -> bytes:
        from open_ocr_spark.kernels.csv_text import build_csv

        rows = [["id", "price", "day", "flag", "name", "mixed"]]
        for r in range(1, 5):
            rows.append([
                str(i * 10 + r),
                f"{r}.{i % 9}5",
                f"2024-01-{r:02d}",
                "true" if r % 2 else "FALSE",
                f"item {r} of {i % 7}",
                "" if r == 2 else (
                    f"12x{i % 3}" if r == 3 else str(r)
                ),
            ])
        return build_csv(rows)

    from open_ocr_spark.dataops.schema_infer import infer_column_types
    from open_ocr_spark.kernels.csv_text import csv_cells

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    raw = twin_payloads(docs, build)
    return (
        infer_column_types(csv_cells(raw, payload_col="payload"))
        .orderBy("doc_id", "col_idx")
    )


ORACLES["infer_column_types"] = """
        WITH expect AS (
            SELECT * FROM (VALUES
                (0, 'id',    'bigint',  CAST(0 AS BIGINT)),
                (1, 'price', 'double',  0),
                (2, 'day',   'date',    0),
                (3, 'flag',  'boolean', 0),
                (4, 'name',  'varchar', 0),
                (5, 'mixed', 'varchar', 1)
            ) AS t(col_idx, header, sql_type, n_nulls)
        )
        SELECT d.doc_id,
               e.col_idx,
               e.header,
               e.sql_type,
               CAST(4 AS BIGINT) AS n_rows,
               e.n_nulls
        FROM documents d, expect e
        ORDER BY d.doc_id, e.col_idx
    """
