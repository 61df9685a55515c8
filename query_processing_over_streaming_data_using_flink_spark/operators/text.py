"""Text-analysis operators for LLM training-data pipelines (driver
mandate, SURVEY.md §2.11 — no reference counterpart).

All operators are pure Catalyst column expressions over a tokenized
`documents.text` — JVM-side, codegen'd, no Python in the hot path, and
each has an exact DuckDB oracle (the SQL builders live in
`plans/suite_llm_data.py`, sharing the constants below).

At 100 TB these are embarrassingly parallel scans: no shuffle at all
until an aggregate sits on top, so they run at full read bandwidth.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from query_processing_over_streaming_data_using_flink_spark.functions.scalar import md5_hash64

TOKEN_SPLIT_RE = r"\s+"

# Tiny per-language stopword lists for the heuristic language-ID.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ein"),
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "los", "las", "y", "una"),
    "fr": ("le", "les", "et", "une", "du"),
    "zh": ("的", "是", "在", "了", "和"),
}


def tokens(text: Column) -> Column:
    return F.split(text, TOKEN_SPLIT_RE)


def token_count(text: Column) -> Column:
    """Whitespace token count (the 'token counting' primitive; a BPE-ish
    subword estimate is chars/4 — provided as `token_estimate_bpe`)."""
    return F.size(tokens(text))


def token_estimate_bpe(text: Column) -> Column:
    """Deterministic BPE-ish token estimate: ceil(chars / 4) — the
    standard rule-of-thumb proxy when no tokenizer is available."""
    return F.ceil(F.length(text) / F.lit(4.0)).cast("long")


# GPT-2-style pre-tokenizer pieces: contraction suffixes, space-prefixed
# letter runs, digit runs, punctuation runs, residual whitespace. Only
# constructs with identical semantics in Java regex (Spark) and RE2
# (DuckDB) — no lookarounds, no \p classes.
BPE_PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


def token_count_bpe_regex(text: Column) -> Column:
    """Piece count under the BPE pre-tokenizer regex — the real
    'token counting' primitive (vs the chars/4 estimate above): every
    character lands in exactly one piece, so the count is exact and
    engine-portable. A full BPE merge table would only split these
    pieces further by a roughly constant factor."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_PRETOKEN_RE), F.lit(0)))


def punct_ratio(text: Column) -> Column:
    """Share of characters that are not alphanumeric/whitespace."""
    stripped = F.regexp_replace(text, r"[^a-zA-Z0-9\s]", "")
    return (F.length(text) - F.length(stripped)) / F.length(text)


def stopword_count(toks: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    toks = tokens(text)
    return stopword_count(toks, lang) / F.size(toks)


def quality_score(text: Column) -> Column:
    """Composite quality score in [0,1]: rewards reasonable length,
    penalizes punctuation noise, rewards natural stopword density.
    Deterministic double arithmetic (same expression tree as the SQL
    oracle)."""
    toks = tokens(text)
    n = F.size(toks)
    length_part = F.least(F.lit(1.0), n / F.lit(50.0))
    punct_part = F.lit(1.0) - punct_ratio(text)
    stop_part = F.least(F.lit(1.0), (stopword_count(toks, "en") / n) * F.lit(5.0))
    return length_part * F.lit(0.4) + punct_part * F.lit(0.3) + stop_part * F.lit(0.3)


def lang_id(text: Column) -> Column:
    """Heuristic language-ID: argmax stopword hits across the known
    languages, ties broken by language code order — the n-gram
    heuristic class of classifier, exact in SQL."""
    toks = tokens(text)
    scored = F.array(
        *[
            F.struct(
                stopword_count(toks, lang).alias("hits"),
                F.lit(lang).alias("lang"),
            )
            for lang in sorted(STOPWORDS)
        ]
    )
    # array_max on struct compares fieldwise: (hits, lang); to prefer
    # the *lowest* lang code on ties we invert: take max hits, then min
    # lang among maxima.
    max_hits = F.array_max(F.transform(scored, lambda s: s["hits"]))
    return F.array_min(
        F.filter(scored, lambda s: s["hits"] == max_hits).getField("lang")
    )


def normalized_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapsed
    whitespace, trimmed."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def doc_fingerprint(text: Column) -> Column:
    """Exact content fingerprint: md5 of the normalized text."""
    return F.md5(normalized_text(text))


def shingles(toks: Column, k: int = 3) -> Column:
    """Word k-gram shingles — the near-dup unit. Token-level sets are
    useless on small vocabularies; k-grams explode the space so random
    docs share few."""
    # sequence(0, n) flips to descending when n < 0 — guard short docs.
    return F.when(F.size(toks) < k, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(k)]),
        )
    )


def shingle_hash_arrays(docs, k: int = 3):
    """Per-doc distinct shingle-hash ARRAY — (doc_id, hs array<long>) —
    computed entirely MAP-SIDE: tokenize once into a materialized array
    column, build the k-gram strings with `transform` over index
    `sequence`s (element_at on the materialized array — O(k) per
    shingle, no re-tokenization), md5-hash each, array_distinct.

    This replaced the round-1..13 shape (posexplode → lead() window on
    (doc_id, pos) → md5 → DISTINCT), which paid a full shuffle of the
    EXPLODED token rows (~k× corpus bytes) plus a distinct exchange
    before any consumer saw a hash (guide §2.4: remove shuffles
    outright). The two projection layers stay materialized — Catalyst's
    CollapseProject keeps multiply-referenced non-cheap aliases (the
    token array feeds size() + k element_at's; SPARK-36718) — so the
    tokenizer runs once per row (check with scripts/query_profile.py plan).

    Docs with fewer than k tokens yield hs = []; NULL text yields
    hs = NULL (size(NULL) < k is NULL, so the short-doc guard inside
    `shingles` falls through to the otherwise branch and the transform
    chain propagates the NULL). Callers must pre-filter NULL text —
    both in-repo callers do, via the >= k token-count precondition
    (size of a NULL token array is never >= k). `shingle_hash_rows`'s
    explode_outer would otherwise emit a spurious h = NULL row per
    NULL-text doc.

    Fanned out (guide §2.5 unsplittable input): with all the hash work
    now map-side, single-row-group local fixtures would serialize it
    onto one core; production scans arrive wide and fanout no-ops."""
    from query_processing_over_streaming_data_using_flink_spark.operators.layout import fanout

    toks = fanout(docs.select("doc_id", "text")).select(
        "doc_id", tokens(F.col("text")).alias("_toks")
    )
    return toks.select(
        "doc_id",
        F.array_distinct(
            F.transform(shingles(F.col("_toks"), k), lambda s: md5_hash64(s))
        ).alias("hs"),
    )


def shingle_hash_rows(docs, k: int = 3):
    """Relational shingle hashing: (doc_id, h) rows, one per distinct
    k-gram shingle — the map-side `shingle_hash_arrays` exploded. Zero
    shuffles before the consumer's own join/aggregate (the pre-r14 form
    shuffled the exploded token rows through a lead() window plus a
    DISTINCT exchange first).

    Why the explicit token-count filter + explode_OUTER: a plain
    explode triggers InferFiltersFromGenerate, whose size(hs)>0 &&
    isnotnull(hs) filter gets pushed below the fan-out exchange with
    the ENTIRE shingle+md5 pipeline re-inlined into it — measured 13.5s
    vs 1.1s at sf0.1 (twice-per-row evaluation, serialized on the
    unspread scan task). The rule skips outer generates; with docs
    pre-filtered to >= k tokens (one cheap split, pushed to the scan)
    hs is provably non-empty, so explode_outer emits exactly explode's
    rows — and docs with < k tokens never had rows in the pre-r14 form
    either (the lead() tail filter dropped them)."""
    eligible = docs.filter(F.size(tokens(F.col("text"))) >= k)
    return shingle_hash_arrays(eligible, k).select(
        "doc_id", F.explode_outer("hs").alias("h")
    )


def sample_hash(id_col: Column, salt: str = "smp", modulus: int = 1000) -> Column:
    """Deterministic per-row sampling hash in [0, modulus): md5-based,
    so it is reproducible across runs, engines (DuckDB oracle shares
    the md5 bits), cluster sizes, and partitionings — unlike
    `df.sample`, whose output depends on partition layout. Salting the
    key decouples this draw from any other hash use of the same id;
    `modulus` sets the rate resolution (permille by default, ppm for
    e.g. quantizer-training samples)."""
    return md5_hash64(F.concat(F.lit(salt + ":"), id_col.cast("string"))) % modulus


def stratified_sample(docs, rates_permille: dict[str, int], strata_col: str = "lang"):
    """Deterministic stratified sampling — corpus rebalancing (e.g.
    downsample the dominant language, keep the rest). `rates_permille`
    maps stratum → keep-rate in ‰.

    The rates are joined in as a broadcast dimension rather than baked
    into a CASE expression: with thousands of strata (domains, source
    crawls) the dim stays a table, the scan stays one pass, and there
    is no shuffle at all — filter only. Rows in strata missing from
    the map are dropped (explicit policy beats silent pass-through)."""
    spark = docs.sparkSession
    rates = spark.createDataFrame(
        [(k, v) for k, v in sorted(rates_permille.items())],
        f"{strata_col} string, rate_permille int",
    )
    return (
        docs.join(F.broadcast(rates), strata_col)
        .filter(sample_hash(F.col("doc_id")) < F.col("rate_permille"))
        .drop("rate_permille")
    )


# PII scrubbing — RE2-safe patterns (no backrefs/lookaround) so Spark
# (Java regex) and DuckDB (RE2) agree byte-for-byte.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+?\d[\d() -]{7,}\d"


def redact_pii(text: Column) -> Column:
    """Replace emails then phone-number-shaped spans with typed tags —
    the standard pre-training scrub. Order matters (emails contain
    digit runs); applying email first makes the composition
    deterministic."""
    emails = F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(emails, PII_PHONE_RE, "<PHONE>")


def pii_counts(text: Column) -> tuple[Column, Column]:
    """(n_emails, n_phones) found by the same patterns `redact_pii`
    replaces (phones counted after email removal, same as the scrub)."""
    n_email = F.regexp_count(text, F.lit(PII_EMAIL_RE))
    n_phone = F.regexp_count(
        F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>"), F.lit(PII_PHONE_RE)
    )
    return n_email, n_phone


def quality_quartiles(docs, strata_col: str = "lang"):
    """Corpus-relative quality gate: ntile(4) of `quality_score` within
    each stratum (ties broken by doc_id so the assignment is total and
    engine-independent). Downstream keeps quartile ≥ 2 or similar —
    filtering against the corpus's own distribution rather than an
    absolute threshold, which is how real curation pipelines gate.

    One shuffle on the stratum; each stratum sorts in parallel."""
    from pyspark.sql.window import Window

    q = F.round(quality_score(F.col("text")), 6)
    w = Window.partitionBy(strata_col).orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        docs.select("doc_id", strata_col, q.alias("quality"))
        .withColumn("quartile", F.ntile(4).over(w))
    )


def pack_sequences(docs, budget_tokens: int = 2048, strata_col: str = "lang"):
    """Concat-then-chunk sequence packing (the GPT-style pipeline step):
    documents are laid out in deterministic order (doc_id) within each
    stratum, token counts accumulate, and a document's sequence id is
    its starting offset ÷ budget. Emits (doc_id, stratum, n_tokens,
    seq_id, seq_offset).

    Packing is per-stratum (monolingual sequences, parallel strata) —
    the global-order variant would serialize on one task; if a single
    stratum outgrows one task, sub-shard the stratum key the same way
    the changelog's `global_rank` shards its sort."""
    from pyspark.sql.window import Window

    toks = docs.select(
        "doc_id", strata_col, token_count(F.col("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy(strata_col)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        toks.withColumn("seq_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .withColumn("seq_id", F.floor(F.col("seq_offset") / budget_tokens))
        .withColumn("seq_offset", (F.col("seq_offset") % budget_tokens).cast("long"))
    )


def sample_fixed_k_per_stratum(docs, k: int, strata_col: str = "lang"):
    """Exactly min(k, |stratum|) rows per stratum, deterministically:
    rank by the salted md5 draw (ties impossible on distinct doc_ids)
    and keep the k smallest. The reservoir-sampling use case (fixed-
    size eval subsets, per-domain probes) without reservoir state —
    reproducible across runs, engines, and partitionings, one shuffle
    on the stratum."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(strata_col).orderBy(sample_hash(F.col("doc_id"), "fixk"),
                                               F.col("doc_id"))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def boilerplate_strip(docs, chunk_tokens: int = 4, min_docs: int = 3):
    """Cross-document boilerplate removal (the CCNet/RefinedWeb
    repeated-line dedup at token-segment granularity): a doc's
    non-overlapping `chunk_tokens`-token segments appearing verbatim in
    ≥ `min_docs` distinct documents are stripped; the doc reassembles
    from the surviving segments in order. Returns (doc_id, n_chunks,
    n_boilerplate, boilerplate_ratio, cleaned_md5) — the md5
    value-checks the rewrite itself. Three linear shuffles; the
    frequency shuffle keys on xxhash64(segment) — an 8-byte exchange
    with the wide text column pruned (asserted in
    tests/test_scale_plans.py) instead of shuffling every segment's
    text; segment text rides only the chunks side, which has to carry
    it anyway for the reassembly. A 64-bit collision would fuse two
    segments' doc-frequencies (~n²/2^64 — negligible below ~10^9
    distinct segments; the DuckDB oracle groups on exact text, so any
    collision would surface as a round-level mismatch)."""
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), TOKEN_SPLIT_RE)).alias("pos", "tok")
    )
    chunks = (
        toks.withColumn("chunk", F.floor(F.col("pos") / chunk_tokens).cast("int"))
        .groupBy("doc_id", "chunk")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda t: t["tok"],
                ),
            ).alias("ctext")
        )
        .withColumn("ck", F.xxhash64("ctext"))
    )
    freq = (
        chunks.select("ck", "doc_id")
        .groupBy("ck")
        .agg(F.countDistinct("doc_id").alias("nd"))
    )
    boiler = F.col("nd") >= min_docs
    return (
        chunks.join(freq, "ck")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(boiler, 1).otherwise(0)).alias("n_boilerplate"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.when(~boiler, F.struct("chunk", "ctext")))
                        ),
                        lambda t: t["ctext"],
                    ),
                )
            ).alias("cleaned_md5"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_boilerplate",
            F.round(F.col("n_boilerplate") / F.col("n_chunks"), 6).alias(
                "boilerplate_ratio"
            ),
            "cleaned_md5",
        )
    )


# Corpus split proportions shared by the doc-level split
# (plans/suite_quality.py:split_train_val_test) and the cluster-level
# leakage-safe split (plans/suite_llm_data.py:split_leakage_safe).
SPLIT_VAL_PERMILLE = 100  # 10% validation
SPLIT_TEST_PERMILLE = 100  # 10% test
