"""Deduplication suite over `documents(doc_id, text, lang, source, n_chars)`.

Four tiers, ordered by cost, all expressed as DataFrame plans:

1. exact_dedup        hash-groupBy on a content fingerprint (one shuffle)
2. ngram_jaccard      word-shingle set overlap via explode + self-join
3. minhash_lsh        MinHash signatures + banded LSH bucketing — the scale
                      path: candidate pairs come from equality joins on band
                      keys, NEVER an all-pairs comparison
4. simhash            62-bit SimHash fingerprints (per-bit majority vote)

All hashing is md5 (deterministic, available on every executor, no
Python, and reproducible in DuckDB, so the oracles replay every stage).
MinHash/SimHash signature construction is an explode into codegen'd hash
aggregates; at 100 TB the only shuffles are the band-bucket groupBys,
each on well-distributed hash keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_ocr_spark.dataops.words import collapse, tokens

# --- 1. exact -------------------------------------------------------------


def _content_hash():
    """md5 of the collapsed text: the content identity every dedup tier
    shares (equal hash => equal token and shingle sets)."""
    return F.md5(collapse(F.col("text")).cast("binary"))


def _rank1_per_content(df: DataFrame, hash_col: str) -> DataFrame:
    """min-doc_id representative per content hash, as a row_number window
    (ONE full-row exchange with a map-side WindowGroupLimit prune — the
    measured scale form, see exact_dedup's docstring)."""
    from pyspark.sql import Window

    w = Window.partitionBy(hash_col).orderBy(F.col("doc_id").asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Group identical texts (md5 of normalized content): one row per
    distinct content with the canonical (min) doc_id and duplicate count.
    Single hash-shuffle on a uniform key; map-side combine is automatic."""
    return (
        docs.withColumn("content_hash", _content_hash())
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Return the deduplicated documents: the min-doc_id representative of
    every distinct normalized text.

    Window form, not groupBy+semi-join: rank-1-per-content-hash plans as
    ONE full-row shuffle with a map-side WindowGroupLimit prune (each map
    task pre-drops all but its local min per hash before the exchange —
    on dup-heavy crawl data most rows never cross the wire), where the
    semi-join form shuffles the full rows AND the hash table and pays a
    join probe. Same choice the extraction pipeline's latest-per-url
    dedupe made after A/B measurement (pipeline/dedupe.py)."""
    hashed = docs.withColumn("content_hash", _content_hash())
    return _rank1_per_content(hashed, "content_hash").drop("content_hash")


# --- shingles (shared by 2 and 3) ------------------------------------------


def shingles_of_tokens(toks_col, k: int = 3):
    """Distinct word k-shingles from an ALREADY-MATERIALIZED token array
    column. The token expression must be bound to a named column first
    (withColumn): higher-order lambdas are interpreted, so an inline
    split() referenced inside the lambda re-evaluates per element —
    measured 13× slower on real data. slice+array_join references the
    array exactly once per shingle."""
    n = F.size(toks_col)
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: F.array_join(F.slice(toks_col, i + 1, k), " "),
            )
        )
    )


def shingle_rows(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle) exploded rows — the shared scan for jaccard and
    minhash. Tokenizes ONCE per row via a bound column."""
    return (
        docs.withColumn("_toks", tokens(F.col("text")))
        .select(
            "doc_id",
            F.explode(shingles_of_tokens(F.col("_toks"), k)).alias("shingle"),
        )
    )


# --- exact-collapse skeleton (shared by the pair queries + simhash) ---------


def _content_collapsed(docs: DataFrame):
    """(members, reps): ``members`` maps every doc_id to its normalized
    content hash; ``reps`` keeps one representative (min doc_id) text per
    distinct content. ``_ch`` is the exact-dedup hash of the text collapsed
    as the token pipeline collapses it (dataops/words.py), so equal
    ``_ch`` ⇒ equal shingle and token sets and content-level results
    transfer to every member."""
    hashed = docs.select("doc_id", "text", _content_hash().alias("_ch"))
    members = hashed.select("doc_id", "_ch")
    # rank-1-per-content window, PINNED with an eager localCheckpoint.
    # Pinning is the load-bearing part: reps feeds ~5 downstream consumers
    # (signatures, banding, shingle verification, pair expansion), and
    # measured end-to-end the un-pinned plan recomputed the whole
    # scan→normalize→hash→collapse subtree per consumer (30 FileScans /
    # 53 exchanges in the static plan; exchange reuse did not close the
    # gap) — 85 s vs 23 s at 400k docs, and the recomputation ANTI-scaled
    # with cores (32 threads re-sorting text buffers 5× thrash the heap).
    # At crawl scale, materializing the distinct-content table once before
    # a multi-consumer stage is exactly what a production pipeline does
    # (persist/stage-table); localCheckpoint is the in-plan equivalent.
    reps = _rank1_per_content(hashed, "_ch").localCheckpoint(eager=True)
    return members, reps


def _expand_rep_pairs(
    members: DataFrame, reps: DataFrame, rep_pairs: DataFrame, k: int,
    value_col: str = "jaccard",
) -> DataFrame:
    """Expand content-level verified pairs to document-level pairs:
    intra-cluster pairs are jaccard 1.0 by construction (restricted to
    contents with ≥1 shingle — shingle-less docs never pair in the direct
    formulations either); cross-cluster pairs inherit their reps'
    jaccard. Only this expansion is proportional to the output pair set."""
    rep_keys = reps.select("_ch", F.col("doc_id").alias("rep_id"))
    shingled = (
        shingle_rows(reps.select("doc_id", "text"), k)
        .select(F.col("doc_id").alias("rep_id"))
        .distinct()
    )
    ok_ch = rep_keys.join(shingled, "rep_id").select("_ch")

    intra = (
        members.alias("a")
        .join(members.alias("b"), "_ch")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .join(ok_ch, "_ch", "left_semi")
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.lit(1.0).alias(value_col),
        )
    )

    cross = (
        rep_pairs.join(
            rep_keys.select(
                F.col("rep_id").alias("doc_a"), F.col("_ch").alias("ch_a")
            ),
            "doc_a",
        )
        .join(
            rep_keys.select(
                F.col("rep_id").alias("doc_b"), F.col("_ch").alias("ch_b")
            ),
            "doc_b",
        )
        .join(
            members.select(F.col("doc_id").alias("m_a"), F.col("_ch").alias("ch_a")),
            "ch_a",
        )
        .join(
            members.select(F.col("doc_id").alias("m_b"), F.col("_ch").alias("ch_b")),
            "ch_b",
        )
        .select(
            F.least("m_a", "m_b").alias("doc_a"),
            F.greatest("m_a", "m_b").alias("doc_b"),
            value_col,
        )
    )
    return intra.unionByName(cross)


# --- prefix-filtered candidate generation (shared by jaccard/containment) ---


def _prefix_candidates(sh: DataFrame, alpha) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs by AllPairs prefix filtering
    (Chaudhuri et al. ICDE'06; Bayardo et al. WWW'07): order each doc's
    shingles by ascending corpus frequency (ties by shingle); a doc of
    size s whose qualifying pairs need overlap ≥ α when IT is the
    smaller side must share one of its first s - α + 1 shingles with any
    such partner — if all shared shingles sat in the suffix, the overlap
    would be ≤ α - 1 (pigeonhole; valid because shingle_rows is per-doc
    DISTINCT — see the losslessness regression in
    tests/test_containment.py). Joining prefix rows against FULL rows
    covers every qualifying pair via its smaller side, whichever side
    that is; larger-side-prefix extras are harmless because the caller
    re-verifies with an exact intersection count.

    The scale point: the raw shingle self-join's row count is
    Σ df(shingle)², which explodes on heavy-tailed crawl-text shingle
    frequencies, while here common shingles are exactly the ones pushed
    OUT of the prefix (they sort last), so join volume is governed by
    Σ df_prefix·df — near-linear on natural corpora. Measured both ways
    at sf0.1 (interleaved same-session pairs): on the UNIFORM synthetic
    fixture (avg df 9.6, max 25 — no heavy tail) this path is 1.36× the
    raw self-join, the deliberate price of the scale-correct plan; on a
    boilerplate-skewed corpus (every doc sharing a 32-token site
    template — the shape of real crawl text) the raw join is quadratic
    (20.2 s at 2k docs → 43.4 s at 4k) while this path stays flat
    (3.7 s at 4k, 11.7× faster and diverging). The 100 TB question is
    the skewed column.

    ``sh``: per-doc-distinct (doc_id, shingle) rows, PINNED by the
    caller (consumed twice here plus the caller's verify).
    ``alpha``: Column over ``n_shingles`` — the minimum overlap a
    qualifying pair must reach when this doc is the smaller side,
    already guarded for the caller's output rounding. ``n_shingles`` is
    computed here in the same exchange as the rank (a count over the
    doc_id window), not joined in.
    """
    from pyspark.sql import Window

    freq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
    pos_w = Window.partitionBy("doc_id").orderBy("__df", "shingle")
    size_w = Window.partitionBy("doc_id")
    # pinned: feeds both the prefix branch and the full join side below —
    # without the pin each branch would recompute the freq join + windows
    annotated = (
        sh.join(freq, "shingle")
        .select(
            "doc_id",
            "shingle",
            "__df",
            F.row_number().over(pos_w).alias("__p"),
            F.count("*").over(size_w).alias("n_shingles"),
        )
        .localCheckpoint(eager=False)
    )
    # a SHARED shingle has df ≥ 2 by definition, so hapax rows can be
    # dropped from BOTH join inputs without losing a pair — positions
    # were assigned over ALL rows first, so the prefix boundary is
    # unchanged. On natural corpora most shingles are hapax; this trims
    # the join's build and probe sides to the shareable minority.
    prefix = annotated.filter(
        (F.col("__p") <= F.col("n_shingles") - alpha + F.lit(1))
        & (F.col("__df") >= 2)
    ).select("doc_id", "shingle")
    full = annotated.filter(F.col("__df") >= 2).select("doc_id", "shingle")
    return (
        prefix.alias("a")
        .join(full.alias("b"), "shingle")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def _shingle_sets(sh: DataFrame) -> DataFrame:
    """(doc_id, __sh_set, n_shingles): each doc's distinct shingles
    reassembled into one array. Arrays are doc-bounded (a doc's shingle
    count ≤ its token count), so rows stay executor-sized even on large
    documents; sort_array makes the row deterministic."""
    return sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("shingle")).alias("__sh_set"),
        F.count("*").alias("n_shingles"),
    )


def _prefix_verified_pairs(
    reps: DataFrame, k: int, alpha
) -> DataFrame:
    """The shared prefix-filter pipeline for the exact pair measures:
    shingle the distinct contents (pinned — feeds the candidate
    generator, the candidate-doc prune, and the set reassembly), find
    candidates via _prefix_candidates(alpha), then verify exactly. The
    same CRITICAL scale guard as the minhash verify path applies before
    set reassembly: semi-join the shingle table down to docs that appear
    in some candidate pair FIRST — the shingle table is corpus-sized
    while candidate docs are output-proportional, and the un-pruned
    aggregation + pair joins would re-shuffle the entire table
    (measured on the minhash twin: 144 s → 23 s at 400k docs, and the
    un-pruned shuffle ANTI-scaled with cores). Sizes for scoring are
    computed on the pruned subset (only candidate pairs are scored), so
    the corpus-wide doc aggregation happens exactly once, inside
    _prefix_candidates' ranking window.

    Returns (doc_a, doc_b, n_inter, size_a, size_b); callers apply
    their measure's score and threshold."""
    sh = shingle_rows(reps.select("doc_id", "text"), k).localCheckpoint(
        eager=False
    )
    # pinned: consumed by the candidate-doc prune and both verify joins
    cand = _prefix_candidates(sh, alpha).localCheckpoint(eager=False)
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    pruned = sh.join(cand_docs, "doc_id", "left_semi")
    return _verified_intersections(cand, _shingle_sets(pruned))


def _verified_intersections(cand: DataFrame, sets_df: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_inter, size_a, size_b): exact intersection sizes
    restricted to the candidate pairs — the verify half of the
    prefix-filter pattern. Fetches both docs' shingle SETS per pair (two
    equi-joins on candidate-sized data) and intersects JVM-side with
    array_intersect, instead of re-exploding to shingle rows: volume is
    |cand|, not Σ_cand size(doc). ``sets_df`` must already be pruned to
    candidate docs (see _prefix_verified_pairs)."""
    a = sets_df.select(
        F.col("doc_id").alias("doc_a"),
        F.col("__sh_set").alias("__set_a"),
        F.col("n_shingles").alias("size_a"),
    )
    b = sets_df.select(
        F.col("doc_id").alias("doc_b"),
        F.col("__sh_set").alias("__set_b"),
        F.col("n_shingles").alias("size_b"),
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("__set_a", "__set_b")).alias("n_inter"),
            "size_a",
            "size_b",
        )
    )


# --- 2. n-gram Jaccard ------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame, k: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Near-duplicate pairs by exact Jaccard over word k-shingles, with the
    exact-collapse pre-pass (see minhash_lsh_pairs: every stage of the
    direct shingle self-join is quadratic in identical-content cluster
    size; after collapsing, compute is per distinct content and only the
    final expansion scales with the output pair set) and PREFIX-FILTERED
    candidates over the distinct contents (_prefix_candidates). The
    Jaccard bound is tighter than containment's: J(A,B) ≥ t forces
    overlap i ≥ t·(|A|+|B|)/(1+t) ≥ 2t/(1+t)·min — at t=0.8 a doc's
    prefix is ~11% of its shingles. Verified exactly, so the output is
    byte-identical to _ngram_jaccard_pairs_direct (parity regression in
    tests/test_containment.py).
    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, rounded 4dp."""
    members, reps = _content_collapsed(docs)
    # output filter is round(i/(sa+sb-i), 4) >= t, so half-up rounding
    # admits ratios down to t - 5e-5; τ = t - 1e-4 keeps the bound
    # conservative (the overlap floor is increasing in τ)
    tau = threshold - 1e-4
    alpha = F.greatest(
        F.lit(1),
        F.ceil(F.lit(2.0 * tau / (1.0 + tau)) * F.col("n_shingles")),
    )
    inter = _prefix_verified_pairs(reps, k, alpha)
    rep_pairs = (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return _expand_rep_pairs(members, reps, rep_pairs, k)


def _ngram_jaccard_pairs_direct(
    docs: DataFrame, k: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Doc-level exact Jaccard without the collapse pre-pass.

    Plan shape: explode shingles → self-join on shingle (hash join on a
    string key) → count intersections → join shingle counts → filter by
    threshold. Quadratic within identical-shingle groups — kept as the
    equivalence reference and as the verifier primitive over
    already-distinct inputs.
    """
    sh = shingle_rows(docs, k)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("n_shingles", "size_a")
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "n_shingles", "size_b"
            ),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# --- 3. MinHash + LSH --------------------------------------------------------

# Fixed, deterministic permutation parameters. The base hash is reduced to
# 31 bits before the affine permutation so a*h+b stays < 2^62: no int64
# overflow under Spark's ANSI mode.
_MH_PRIME = 2147483647  # 2^31 - 1
_PERMS = [
    ((2 * i + 1) * 40503 % _MH_PRIME or 1, (i * i + i + 1) % _MH_PRIME)
    for i in range(32)
]


def _h31_md5(col):
    # The 31-bit base hash, md5-derived so DuckDB (which has md5 but not
    # xxhash64) replays the same pipeline; one digest per DISTINCT
    # shingle, amortized by the exact-collapse pre-pass.
    # first 8 hex chars -> 32-bit int -> mod 2^31-1; DuckDB mirror:
    # ('0x' || substring(md5(x), 1, 8))::BIGINT % 2147483647
    return F.pmod(
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long"),
        F.lit(_MH_PRIME),
    )


def minhash_signatures(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, sig array<long>) via explode → codegen'd hash aggregate:
    one shuffle on doc_id, 32 min() aggregates over the shingle hashes.
    ~10× faster than the higher-order-function form (HOFs are interpreted,
    hash aggregates are whole-stage-codegen'd) and identical output."""
    sh = shingle_rows(docs, k).withColumn("h31", _h31_md5(F.col("shingle")))
    aggs = [
        F.min(F.pmod(F.lit(a) * F.col("h31") + F.lit(b), F.lit(_MH_PRIME))).alias(
            f"_m{i}"
        )
        for i, (a, b) in enumerate(_PERMS)
    ]
    return (
        sh.groupBy("doc_id")
        .agg(*aggs)
        .select(
            "doc_id",
            F.array(*[F.col(f"_m{i}") for i in range(len(_PERMS))]).alias("sig"),
        )
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 3,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Scale-path near-dup detection: collapse exact duplicates, MinHash +
    banded LSH over the DISTINCT contents only, verify candidates with
    exact Jaccard, then expand the verified content pairs back to document
    pairs.

    The exact-collapse pre-pass is what makes this survive real crawl
    tables: identical-content clusters are huge there, and every stage of
    a naive doc-level LSH (signatures, band buckets, candidate pairs,
    verification joins) is quadratic in cluster size. After the collapse
    all compute runs once per distinct content; only the final expansion
    is proportional to the (inherently quadratic) OUTPUT pair set. Same
    result set: intra-cluster pairs are jaccard 1.0 by construction,
    cross-cluster pairs share their representatives' jaccard because
    identical normalized text ⇒ identical shingle set.

    At 100 TB: shuffles are the content-hash groupBy, the band groupBy
    (uniform hash keys), and the verification/expansion joins on content
    keys — never an all-pairs product over documents.
    """
    members, reps = _content_collapsed(docs)
    rep_pairs = _minhash_lsh_pairs_direct(
        reps.select("doc_id", "text"), k=k, bands=bands, threshold=threshold
    )
    return _expand_rep_pairs(members, reps, rep_pairs, k)


def _minhash_lsh_pairs_direct(
    docs: DataFrame,
    k: int = 3,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Doc-level MinHash+LSH without the exact-collapse pre-pass: correct
    but quadratic in identical-content cluster sizes at every stage. Kept
    as the equivalence reference for minhash_lsh_pairs.

    Band keys are the EXACT band content ``"band,m_i,..."`` — collision-free
    and engine-independent, so an external oracle reproduces candidacy by
    slice equality."""
    per_band = len(_PERMS) // bands
    sigs = minhash_signatures(docs, k)
    band_cols = [
        F.concat_ws(
            ",",
            F.lit(str(b)),
            F.slice(F.col("sig"), b * per_band + 1, per_band).cast(
                "array<string>"
            ),
        ).alias("band_hash")
        for b in range(bands)
    ]
    # banded is self-joined (two consumers of one subtree) and cand feeds
    # three consumers (the doc prune, the verify join, the output); both
    # are SMALL — (doc_id, band key) rows and the output-proportional
    # pair list — so pinning them costs near-nothing and stops the
    # signature/banding subtree from being recomputed per consumer
    banded = (
        sigs.select("doc_id", F.explode(F.array(*band_cols)).alias("band_hash"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    cand = (
        banded.alias("a")
        .join(banded.alias("b"), "band_hash")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    # verification: exact Jaccard restricted to the candidate subset only.
    # CRITICAL scale guard: semi-join the shingle table down to docs that
    # appear in some candidate pair BEFORE the pair joins — the shingle
    # table is |docs| × ~shingles/doc rows (tens of millions at bench
    # scale, billions at crawl scale) while candidate docs are
    # output-proportional; without the prune the (doc_b, shingle) join
    # re-shuffles the ENTIRE shingle table (measured: 144 s → 23 s at
    # 400k docs, and the un-pruned shuffle ANTI-scaled with cores)
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = shingle_rows(docs, k).join(cand_docs, "doc_id", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    verified = (
        cand.join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(
            sh.withColumnRenamed("doc_id", "doc_b"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "size_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "size_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return verified


# --- 4. SimHash --------------------------------------------------------------

# Fingerprint width: the per-token hash is 62 bits (_tok_hash62_md5), the
# widest form both this engine and an md5-only oracle can build without
# signed-int64 overflow.
_SIMHASH_BITS = 62


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) with the exact-collapse pre-pass: identical
    normalized text ⇒ identical distinct-token set ⇒ identical SimHash,
    so the 62-vote aggregate runs once per distinct content and members
    get their fingerprint by a content-hash join (broadcast-eligible when
    the distinct side is small)."""
    members, reps = _content_collapsed(docs)
    rep_fp = _simhash_fingerprints_direct(reps.select("doc_id", "text"))
    by_content = (
        reps.select("_ch", "doc_id")
        .join(rep_fp, "doc_id")
        .select("_ch", "simhash")
    )
    return members.join(by_content, "_ch").select("doc_id", "simhash")


def _tok_hash62_md5(col):
    # two independent 31-bit halves from one digest; < 2^62 so every
    # downstream sum/shift stays inside a signed long in ANY engine.
    # DuckDB mirror: ('0x'||substring(md5(t),1,8))::BIGINT % 2147483648
    #   * 2147483648 + ('0x'||substring(md5(t),9,8))::BIGINT % 2147483648
    two31 = F.lit(2147483648)
    hi = F.pmod(F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long"), two31)
    lo = F.pmod(F.conv(F.substring(F.md5(col), 9, 8), 16, 10).cast("long"), two31)
    return hi * two31 + lo


def _simhash_fingerprints_direct(docs: DataFrame) -> DataFrame:
    """Doc-level SimHash via explode → codegen'd hash aggregate: per-token
    62-bit md5 hash, per-bit majority vote as 62 sum() aggregates (+1/-1),
    then bit reassembly in a single projection. One uniform shuffle on
    doc_id; everything whole-stage-codegen'd. Kept as the equivalence
    reference."""
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok"),
    ).withColumn("h", _tok_hash62_md5(F.col("tok")))
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"_v{i}")
        for i in range(_SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    out = None
    for i in range(_SIMHASH_BITS):
        e = F.when(F.col(f"_v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        out = e if out is None else out.bitwiseOR(e)
    return agg.select("doc_id", out.alias("simhash"))


# --- 2b. n-gram containment --------------------------------------------------


def ngram_containment_pairs(
    docs: DataFrame, k: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Asymmetric near-duplicate pairs by shingle CONTAINMENT:
    ``|A∩B| / min(|A|, |B|)`` — the Broder containment measure. Jaccard
    misses subset relations (a page quoting most of a shorter page can
    sit at Jaccard 0.3 while the smaller side is 95% contained); corpus
    dedup wants those pairs too, with the smaller document as the
    removal candidate.

    Scale shape: exact-collapse pre-pass, then PREFIX-FILTERED candidate
    generation (Chaudhuri et al. ICDE'06; Bayardo et al. WWW'07
    AllPairs) instead of the raw shingle self-join — the raw join's row
    count is Σ df(shingle)², which explodes on the heavy-tailed shingle
    frequencies of real crawl text, while the prefix join only pairs
    each doc's ~(1-t)·s RAREST shingles against full rows. Candidates
    are then verified with an exact intersection count restricted to the
    candidate pairs, so the result is byte-identical to the direct
    formulation (measured at sf0.1: 2.78M join rows → 180k candidates,
    identical output). Expansion proportional to the output.
    Output: (doc_a, doc_b, containment), doc_a < doc_b, 4dp.
    """
    members, reps = _content_collapsed(docs)
    # α(s): the overlap a pair must reach when s is the SMALLER size.
    # The output filter is round(n_inter/min_size, 4) >= t, so half-up
    # rounding admits n_inter as low as (t - 5e-5)·min_size; the 1e-4
    # slack keeps the prefix bound conservative (longer prefix = still
    # lossless, never the reverse).
    alpha = F.greatest(
        F.lit(1),
        F.ceil((F.lit(threshold) - F.lit(1e-4)) * F.col("n_shingles")),
    )
    inter = _prefix_verified_pairs(reps, k, alpha)
    rep_pairs = (
        inter.withColumn(
            "containment",
            F.round(
                F.col("n_inter") / F.least("size_a", "size_b"), 4
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
    )
    return _expand_rep_pairs(members, reps, rep_pairs, k,
                             value_col="containment")
