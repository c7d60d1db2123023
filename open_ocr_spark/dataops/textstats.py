"""Text analysis over the `documents` table: token counting, quality
scoring, fingerprinting (all pure Catalyst expressions — whole-stage
codegen, no Python), and an n-gram language-ID heuristic as an
Arrow-batched pandas UDF (the one genuinely non-SQL op here).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from open_ocr_spark.dataops.words import (
    WS, WS_CHARS, collapse, split_spaces, tokens, words,
)


def token_count_col(text_col):
    """Whitespace token count, JVM-side. '' counts as 0 tokens."""
    trimmed = collapse(text_col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(split_spaces(trimmed))
    )


def with_token_count(df: DataFrame, text: str = "text") -> DataFrame:
    return df.withColumn("n_tokens", token_count_col(F.col(text)).cast("long"))


def with_quality_score(df: DataFrame, text: str = "text") -> DataFrame:
    """Length/punctuation/stopword-free quality heuristics, all codegen'd:
    - n_chars, n_tokens
    - avg_token_len = (chars - spaces) / tokens
    - alpha_ratio   = alphabetic chars / chars
    - score         = deterministic blend, rounded for cross-engine equality
    """
    t = F.col(text)
    n_chars = F.length(t)
    n_tokens = token_count_col(t)
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    avg_tok = F.when(n_tokens > 0, (n_chars - (n_tokens - 1)) / n_tokens).otherwise(
        F.lit(0.0)
    )
    alpha_ratio = F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0))
    raw = (
        F.least(F.lit(1.0), n_tokens / F.lit(100.0)) * F.lit(0.5)
        + alpha_ratio * F.lit(0.3)
        + F.least(F.lit(1.0), avg_tok / F.lit(8.0)) * F.lit(0.2)
    )
    # floor(x*1e4 + 0.5)/1e4 instead of round(x, 4): engines disagree on
    # round() exactly at representation boundaries (measured: both compute
    # 0.47104999999999997, Spark's BigDecimal-exact round gives 0.471,
    # DuckDB's shortest-decimal-repr round gives 0.4711). floor over the
    # same IEEE double is bit-deterministic on every engine.
    score = F.floor(raw * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)
    return (
        df.withColumn("n_tokens", n_tokens.cast("long"))
        .withColumn("avg_token_len", F.round(avg_tok, 4))
        .withColumn("alpha_ratio", F.round(alpha_ratio, 4))
        .withColumn("quality_score", score)
    )


def with_fingerprint(df: DataFrame, text: str = "text") -> DataFrame:
    """Document fingerprint: md5 over the whitespace-collapsed, lowercased
    text — deterministic and content-addressed; DuckDB's
    ``md5(lower(collapse_sql(text)))`` gives the same hash for any text
    (replaces the reference's UUID tmp-file identities, SURVEY §4.2.4)."""
    norm = F.lower(collapse(F.col(text)))
    return df.withColumn("fingerprint", F.md5(norm.cast("binary")))


# --- language-ID (Arrow-batched pandas UDF) ----------------------------------
# Two deterministic tiers, the shape of every practical crawl lang-id:
#
# 1. SCRIPT detection by Unicode block density — non-Latin scripts are
#    near-unambiguous (Cyrillic->ru, Arabic->ar, Devanagari->hi,
#    Hangul->ko, kana->ja, Han-without-kana->zh, Greek->el, Hebrew->he,
#    Thai->th). This is how fastText/CLD short-circuit too.
# 2. Character-TRIGRAM rank profiles (Cavnar-Trenkle '94 out-of-place
#    distance) for the Latin-script languages (en de fr es pt it nl),
#    built at import from small seed texts below. Deterministic: fixed
#    seed corpus, bytewise tie-breaks, fixed language order.
#
# Real models would be broadcast the same way; the kernel stays an
# Arrow-batched pandas UDF either way.

_SEED_TEXTS = {
    "en": "the quick brown fox jumps over the lazy dog and it is a fine "
          "day for all of us that we should be here with the things we "
          "have and the people who are there when you want them to be",
    "de": "der schnelle braune fuchs springt über den faulen hund und es "
          "ist ein schöner tag für uns alle dass wir hier sind mit den "
          "dingen die wir haben und den menschen die da sind wenn man sie "
          "braucht ich habe nicht gewusst was das ist",
    "fr": "le renard brun rapide saute par dessus le chien paresseux et "
          "c'est une belle journée pour nous tous que nous soyons ici "
          "avec les choses que nous avons et les gens qui sont là quand "
          "on veut qu'ils soient je ne sais pas ce que c'est",
    "es": "el rápido zorro marrón salta sobre el perro perezoso y es un "
          "buen día para todos nosotros que estemos aquí con las cosas "
          "que tenemos y la gente que está allí cuando quieres que estén "
          "no sé lo que es esto pero me gusta mucho",
    "pt": "a rápida raposa marrom salta sobre o cão preguiçoso e é um bom "
          "dia para todos nós que estejamos aqui com as coisas que temos "
          "e as pessoas que estão lá quando você quer que estejam não sei "
          "o que é isso mas eu gosto muito das coisas",
    "it": "la rapida volpe marrone salta sopra il cane pigro ed è una "
          "bella giornata per tutti noi che siamo qui con le cose che "
          "abbiamo e le persone che sono lì quando vuoi che ci siano non "
          "so che cosa sia questo ma mi piace molto",
    "nl": "de snelle bruine vos springt over de luie hond en het is een "
          "mooie dag voor ons allemaal dat we hier zijn met de dingen die "
          "we hebben en de mensen die er zijn als je wilt dat ze er zijn "
          "ik weet niet wat dit is maar ik vind het leuk",
}

_LATIN_LANGS = tuple(_SEED_TEXTS)  # fixed order = deterministic ties
_PROFILE_TOP = 150
_DOC_TOP = 80


def _ranked_trigrams(text: str, top: int) -> list:
    import re as _re
    from collections import Counter

    s = " " + _re.sub(r"\s+", " ", text.lower()).strip() + " "
    counts = Counter(s[i:i + 3] for i in range(len(s) - 2))
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return [g for g, _c in ranked[:top]]


_TRIGRAM_PROFILES = {
    lang: {g: i for i, g in enumerate(_ranked_trigrams(t, _PROFILE_TOP))}
    for lang, t in _SEED_TEXTS.items()
}

# (langcode, inclusive codepoint ranges) — dominant-script shortcut.
_SCRIPTS = (
    ("ru", ((0x0400, 0x04FF),)),            # Cyrillic
    ("el", ((0x0370, 0x03FF),)),            # Greek
    ("he", ((0x0590, 0x05FF),)),            # Hebrew
    ("ar", ((0x0600, 0x06FF), (0x0750, 0x077F))),  # Arabic
    ("hi", ((0x0900, 0x097F),)),            # Devanagari
    ("th", ((0x0E00, 0x0E7F),)),            # Thai
    ("ko", ((0xAC00, 0xD7AF), (0x1100, 0x11FF))),  # Hangul
    ("ja", ((0x3040, 0x309F), (0x30A0, 0x30FF))),  # kana
    ("zh", ((0x4E00, 0x9FFF), (0x3400, 0x4DBF))),  # Han
)


def _dominant_script(window: str) -> str | None:
    """Script language if one non-Latin script dominates the letters.
    Kana beats Han (Japanese text mixes both; Han alone means Chinese)."""
    counts = dict.fromkeys((s for s, _ in _SCRIPTS), 0)
    letters = 0
    for ch in window:
        o = ord(ch)
        if ch.isalpha():
            letters += 1
        for lang, ranges in _SCRIPTS:
            if any(lo <= o <= hi for lo, hi in ranges):
                counts[lang] += 1
                break
    if letters == 0:
        return None
    if counts["ja"] >= max(3, letters * 0.05):
        return "ja"  # any meaningful kana presence -> Japanese
    for lang, _r in _SCRIPTS:
        if counts[lang] > letters * 0.3:
            return lang
    return None


def _lang_id_series(texts: pd.Series) -> pd.Series:
    def ident(t):
        if not t:
            return "und"
        window = t[:400]
        script = _dominant_script(window)
        if script:
            return script
        doc = _ranked_trigrams(window, _DOC_TOP)
        # require minimal evidence: ultra-short / non-text stays und
        if len(doc) < 4:
            return "und"
        best, best_d = "und", None
        for lang in _LATIN_LANGS:
            prof = _TRIGRAM_PROFILES[lang]
            miss = _PROFILE_TOP
            d = sum(abs(prof.get(g, miss) - i) for i, g in enumerate(doc))
            if best_d is None or d < best_d:
                best, best_d = lang, d
        return best

    return texts.map(ident)


def with_lang_id(df: DataFrame, text: str = "text") -> DataFrame:
    """Heuristic language-ID as a vectorized pandas UDF (Arrow transport;
    one Python call per batch, not per row). The UDF object is built
    lazily: pandas_udf type resolution needs an active SparkSession."""
    lang_id_udf = pandas_udf(_lang_id_series, "string")
    return df.withColumn("lang_pred", lang_id_udf(F.col(text)))


def repetition_stats(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Within-document repetition heuristics (the Gopher/C4 filter family):

    - dup_bigram_frac: fraction of word bigrams that are repeats of an
      earlier bigram in the same document — pure array expressions per row
      (whole-stage codegen, no shuffle);
    - top_token_frac: frequency share of the document's most common token —
      explode → (doc, token) hash agg → per-doc max/sum, two uniform-key
      map-side-combining shuffles (the mode of an array has no
      single-pass Catalyst expression).

    Fractions use the floor-scale rounding (see with_quality_score) so
    values hash-compare across engines."""
    base = docs.withColumn("_toks", tokens(F.col("text"))).withColumn(
        "_n", token_count_col(F.col("text"))
    )
    n = F.col("_n")
    bigrams = F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.array_join(F.slice(F.col("_toks"), i + 1, 2), " "),
        )
    )
    base = base.withColumn("_bi", bigrams)
    dup_frac = F.when(
        F.size("_bi") > 0,
        F.lit(1.0) - F.size(F.array_distinct("_bi")) / F.size("_bi"),
    ).otherwise(F.lit(0.0))

    def scale4(c):
        return F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)

    arrays_part = base.select(
        id_col,
        F.col("_n").cast("long").alias("n_tokens"),
        scale4(dup_frac).alias("dup_bigram_frac"),
    )
    top = (
        base.filter(n > 0)
        .select(id_col, F.explode("_toks").alias("_tok"))
        .groupBy(id_col, "_tok")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(id_col)
        .agg((F.max("_c") / F.sum("_c")).alias("_f"))
    )
    return arrays_part.join(top, id_col, "left").select(
        id_col,
        "n_tokens",
        "dup_bigram_frac",
        scale4(F.coalesce(F.col("_f"), F.lit(0.0))).alias("top_token_frac"),
    )


# PII patterns written to mean the same thing in Java regex (Spark) and
# RE2 (DuckDB): explicit classes, no lookaround, no \d shorthand.
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
PII_PHONE_RE = "[+][0-9]{1,2}-[0-9]{3}-[0-9]{3,4}-?[0-9]{0,4}"


def scrub_pii(df: DataFrame, text: str = "text", out: str = "scrubbed") -> DataFrame:
    """C4-style PII scrub: emails and international-format phone numbers
    replaced with typed placeholders. Pure regexp_replace (JVM, codegen);
    patterns are dialect-portable so the DuckDB oracle applies the exact
    same expressions."""
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col(text), PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return df.withColumn(out, scrubbed)


# BPE-ish pre-tokenizer pattern (GPT-2 split rule simplified to the
# lookahead-free subset both Java regex and RE2 execute identically):
# space-prefixed letter runs, digit runs, punctuation runs, whitespace runs.
BPE_SPLIT_RE = f" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9{WS_CHARS}]+|{WS}"


def with_bpe_token_count(df: DataFrame, text: str = "text") -> DataFrame:
    """Approximate LLM token count: number of BPE-ish pre-tokenizer
    segments (regexp_count, JVM codegen — the standard budget estimator a
    training pipeline runs over every document). Cross-engine portable:
    the pattern avoids lookahead so DuckDB's RE2 counts identically."""
    return df.withColumn(
        "n_bpe_tokens",
        F.regexp_count(F.col(text), F.lit(BPE_SPLIT_RE)).cast("long"),
    )


def with_readability(df: DataFrame, text: str = "text") -> DataFrame:
    """Flesch reading-ease, built from exact integer counts so the only
    float is the final formula (rounded by callers per the repo's 4dp
    contract):
    - n_words      whitespace tokens
    - n_sentences  runs of terminal punctuation ([.!?]+), floored at 1
    - n_syllables  vowel-group runs ([aeiouy]+, lowercased) — the
      classic heuristic; spaces break groups so no per-word explode is
      needed, keeping the whole thing one codegen'd projection
    flesch = 206.835 - 1.015*(words/sentences) - 84.6*(syllables/words)
    (0.0 for empty documents).  All ops exist verbatim in DuckDB, so
    oracles replay the identical expression."""
    t = F.coalesce(F.col(text), F.lit(""))
    n_words = token_count_col(t).cast("long")
    n_sentences = F.greatest(
        F.lit(1).cast("long"),
        F.size(F.regexp_extract_all(t, F.lit(r"[.!?]+"), F.lit(0))).cast(
            "long"
        ),
    )
    n_syll = F.size(
        F.regexp_extract_all(F.lower(t), F.lit(r"[aeiouy]+"), F.lit(0))
    ).cast("long")
    flesch = F.when(
        n_words > 0,
        F.lit(206.835)
        - F.lit(1.015) * (n_words / n_sentences)
        - F.lit(84.6) * (n_syll / n_words),
    ).otherwise(F.lit(0.0))
    return (
        df.withColumn("n_words", n_words)
        .withColumn("n_sentences", n_sentences)
        .withColumn("n_syllables", n_syll)
        .withColumn("flesch", flesch)
    )


def top_ngrams(
    docs: DataFrame, n: int = 2, k: int = 50, text: str = "text"
) -> DataFrame:
    """(ngram, n_occurrences): the k most frequent word n-grams with a
    deterministic total order (count desc, ngram asc) — the canonical
    count-everything-at-scale job (corpus vocabulary reports, LM
    pretraining stats).  Two-phase hash aggregate with map-side combine;
    the top-k is a TakeOrdered over the aggregated table, never a
    global sort of the corpus."""
    toks = words(F.lower(F.coalesce(F.col(text), F.lit(""))))
    size = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), size - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return (
        docs.select(
            F.explode(
                F.when(size >= n, grams).otherwise(
                    F.array().cast("array<string>")
                )
            ).alias("ngram")
        )
        .groupBy("ngram")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
        .limit(k)
    )


def char_entropy(
    docs: DataFrame, id_col: str = "doc_id", text: str = "text"
) -> DataFrame:
    """(doc_id, n_chars, entropy_bits): Shannon entropy of the per-document
    character distribution, 4dp — the information-density quality signal
    corpus filters use alongside repetition_stats (machine-generated spam
    and template boilerplate sit far below prose's ~4.1 bits/char;
    binary-ish junk saturates toward log2(alphabet)).

    Pure Catalyst: explode characters -> (doc, char) hash aggregate ->
    per-doc entropy sum. Two shuffles, both on uniform keys, map-side
    partials throughout; the -sum(p*log2(p)) reduction is float64 with
    the repo's established 4dp cross-engine rounding contract
    (stats_corr_revenue). Zero-length documents report entropy 0.0, not
    NULL, so downstream gates can threshold without null handling."""
    chars = docs.select(
        id_col,
        F.explode(
            F.split(F.coalesce(F.col(text), F.lit("")), "")
        ).alias("ch"),
    ).filter(F.col("ch") != "")
    hist = chars.groupBy(id_col, "ch").agg(F.count("*").alias("c"))
    tot = hist.groupBy(id_col).agg(F.sum("c").alias("n"))
    ent = (
        hist.join(tot, id_col)
        .groupBy(id_col)
        .agg(
            F.max("n").alias("n_chars"),
            F.round(
                -F.sum(
                    (F.col("c") / F.col("n"))
                    * F.log2(F.col("c") / F.col("n"))
                ),
                4,
            ).alias("entropy_bits"),
        )
    )
    return (
        docs.select(id_col)
        .join(ent, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_chars"), F.lit(0)).alias("n_chars"),
            F.coalesce(F.col("entropy_bits"), F.lit(0.0)).alias(
                "entropy_bits"
            ),
        )
    )


# Labeled accuracy fixture for the trigram/script lang-id: one
# natural sentence per language; the pytest accuracy gate AND the
# driver query lang_id_fixture both consume it (one source of truth).
LANG_ID_FIXTURE = [
    ("en", "The committee decided that the proposal should be reviewed "
           "before the end of the year because many people were concerned."),
    ("de", "Die Regierung hat beschlossen, dass die neuen Regeln ab dem "
           "nächsten Jahr gelten sollen, weil viele Menschen sich "
           "beschwert haben."),
    ("fr", "Le gouvernement a décidé que les nouvelles règles seraient "
           "appliquées à partir de l'année prochaine parce que beaucoup "
           "de gens se sont plaints."),
    ("es", "El gobierno ha decidido que las nuevas reglas se aplicarán a "
           "partir del próximo año porque mucha gente se ha quejado."),
    ("pt", "O governo decidiu que as novas regras serão aplicadas a "
           "partir do próximo ano porque muitas pessoas reclamaram."),
    ("it", "Il governo ha deciso che le nuove regole saranno applicate a "
           "partire dal prossimo anno perché molte persone si sono "
           "lamentate."),
    ("nl", "De regering heeft besloten dat de nieuwe regels vanaf volgend "
           "jaar gelden omdat veel mensen hebben geklaagd."),
    ("ru", "Правительство решило, что новые правила вступят в силу со "
           "следующего года, потому что многие люди жаловались."),
    ("ar", "قررت الحكومة أن القواعد الجديدة ستطبق اعتبارا من العام المقبل "
           "لأن الكثير من الناس اشتكوا."),
    ("hi", "सरकार ने फैसला किया कि नए नियम अगले साल से लागू होंगे क्योंकि बहुत से "
           "लोगों ने शिकायत की।"),
    ("ko", "정부는 많은 사람들이 불평했기 때문에 새로운 규칙이 내년부터 "
           "적용될 것이라고 결정했다."),
    ("ja", "政府は多くの人々が苦情を言ったため、新しい規則が来年から適用"
           "されると決定しました。"),
    ("zh", "政府决定新规则将从明年开始实施因为很多人投诉了这个问题需要解决"),
    ("el", "Η κυβέρνηση αποφάσισε ότι οι νέοι κανόνες θα ισχύσουν από το "
           "επόμενο έτος."),
    ("he", "הממשלה החליטה שהכללים החדשים ייכנסו לתוקף מהשנה הבאה כי אנשים "
           "רבים התלוננו."),
    ("th", "รัฐบาลตัดสินใจว่ากฎใหม่จะมีผลบังคับใช้ตั้งแต่ปีหน้าเพราะมีคนจำนวนมากร้องเรียน"),
]
