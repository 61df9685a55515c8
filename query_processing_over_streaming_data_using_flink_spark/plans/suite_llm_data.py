"""LLM-training-data operator suite (driver mandate, SURVEY.md §2.11):
dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding
cosine), similarity search (brute-force + LSH ANN), text analysis
(tokens, quality, lang-ID, fingerprints) and multimodal metadata —
each with an exact DuckDB oracle.

The oracle SQL is *generated from the same constants* as the Spark
operators (hash construction, MinHash permutations, band layout,
stopword lists), so the check is semantic, not coincidental. The only
shared primitives are md5 (bit-identical in both engines) and IEEE
double arithmetic in matching expression order (verified: list_reduce
sums ≡ F.aggregate folds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from query_processing_over_streaming_data_using_flink_spark.operators import dedup as dd
from query_processing_over_streaming_data_using_flink_spark.operators import linalg as la
from query_processing_over_streaming_data_using_flink_spark.operators import multimodal as mm
from query_processing_over_streaming_data_using_flink_spark.operators import similarity as sim
from query_processing_over_streaming_data_using_flink_spark.operators import text as tx
from query_processing_over_streaming_data_using_flink_spark.functions.scalar import md5_hash64
from query_processing_over_streaming_data_using_flink_spark.pin import (
    materialize,
    materialize_async,
    pin_result,
)
from query_processing_over_streaming_data_using_flink_spark.registry import register
from query_processing_over_streaming_data_using_flink_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# SQL fragment builders (DuckDB dialect), mirroring operators/* expressions.
# ---------------------------------------------------------------------------

_TOKENS = r"regexp_split_to_array(text, '\s+')"
_H64 = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"  # == md5_hash64


def _dot_sql(a: str, b: str) -> str:
    """DuckDB fixed-left-fold dot product — the one rendering every
    ANN oracle shares (a change here changes them all together)."""
    return (
        f"list_reduce([{a}[i] * {b}[i] for i in range(1, len({a}) + 1)], "
        "(p, q) -> p + q)"
    )


def _shingles_sql(tokens_expr: str, k: int = 3) -> str:
    parts = " || ' ' || ".join(f"t[i+{j}]" for j in range(k))
    return (
        f"[{parts} for i in range(1, greatest(len(t) - {k - 1}, 0) + 1)]"
        .replace("t[", f"{tokens_expr}[")
        .replace("len(t)", f"len({tokens_expr})")
    )


def _shingle_hashes_sql() -> str:
    sh = _shingles_sql("toks")
    return f"list_distinct(list_transform({sh}, s -> {_H64.format(x='s')}))"


def _cosine_sql(a: str, b: str) -> str:
    return (
        f"({_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})))"
    )


def _sig_sql(v: str, bits: int = sim.SIG_BITS, offset: int = 0) -> str:
    terms = " + ".join(
        f"(CASE WHEN {v}[{offset + i + 1}] > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits)
    )
    return f"({terms})"


def _lsh_tables_sql(src: str, id_alias: str) -> str:
    """UNION ALL of per-table (tbl, sig) rows mirroring sim._lsh_tables."""
    return " UNION ALL ".join(
        f"SELECT vec_id AS {id_alias}, vec, {t} AS tbl, "
        f"{_sig_sql('vec', sim.LSH_BITS, t * sim.LSH_BITS)} AS sig FROM {src}"
        for t in range(sim.LSH_TABLES)
    )


def _bit_lit(i: int) -> str:
    """Bit i of a signed 64-bit value as a DuckDB BIGINT literal. Bit 63
    is written as an expression: the literal 9223372036854775808 would
    parse as HUGEINT (round-1 lesson: int128 breaks the driver hasher)."""
    return str(1 << i) if i < 63 else "(-9223372036854775807 - 1)"


def _simhash_sql(tokens_expr: str) -> str:
    th = f"list_transform({tokens_expr}, s -> {_H64.format(x='s')})"
    terms = []
    for i in range(dd.SIMHASH_BITS):
        # != 0, not > 0: bit 63's mask is negative as a signed BIGINT.
        bit_sum = (
            f"list_reduce(list_transform(th, h -> CASE WHEN (h & {_bit_lit(i)}) != 0 "
            f"THEN 1 ELSE -1 END), (p, q) -> p + q)"
        ).replace("th", th)
        terms.append(f"(CASE WHEN {bit_sum} > 0 THEN {_bit_lit(i)} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _stop_hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in tx.STOPWORDS[lang])
    return f"len(list_filter(toks, s -> s IN ({words})))"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text metrics: token counts (whitespace + BPE-ish
    estimate), punctuation ratio, stopword ratio, composite quality
    score. One scan, zero shuffles."""
    from query_processing_over_streaming_data_using_flink_spark.operators.layout import fanout

    # All five metrics are map-side regex/array work over `text`; on
    # an under-parallel input they run on one core (fanout is a no-op
    # once the scan arrives wider than the session's parallelism).
    docs = fanout(load_table(spark, sf_dir, "documents"))
    text = F.col("text")
    return docs.select(
        "doc_id",
        "lang",
        tx.token_count(text).alias("n_tokens"),
        tx.token_estimate_bpe(text).alias("n_tokens_bpe"),
        F.round(tx.punct_ratio(text), 6).alias("punct_ratio"),
        F.round(tx.stopword_ratio(text, "en"), 6).alias("stop_ratio_en"),
        F.round(tx.quality_score(text), 6).alias("quality"),
    )


_TEXT_STATS_SQL = f"""
SELECT doc_id, lang,
       len(toks) AS n_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens_bpe,
       round((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))) / length(text), 6) AS punct_ratio,
       round({_stop_hits_sql('en')} / len(toks), 6) AS stop_ratio_en,
       round(least(1.0, len(toks) / 50.0) * 0.4
             + (1.0 - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))) / length(text)) * 0.3
             + least(1.0, ({_stop_hits_sql('en')} / len(toks)) * 5.0) * 0.3, 6) AS quality
FROM (SELECT *, {_TOKENS} AS toks FROM documents)
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID (stopword argmax) vs the labeled lang."""
    from query_processing_over_streaming_data_using_flink_spark.operators.layout import fanout

    # The stopword-count argmax is a large map-side expression tree
    # (|langs| list_filters per row) — fan an under-parallel scan out.
    docs = fanout(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        "lang",
        tx.lang_id(F.col("text")).alias("lang_pred"),
    ).withColumn("is_match", (F.col("lang") == F.col("lang_pred")).cast("int"))


_LANG_CASES = " ".join(
    f"WHEN {_stop_hits_sql(lang)} = m THEN '{lang}'" for lang in sorted(tx.STOPWORDS)
)
_LANG_MAX = "greatest(" + ", ".join(_stop_hits_sql(lang) for lang in sorted(tx.STOPWORDS)) + ")"
_TEXT_LANG_SQL = f"""
SELECT doc_id, lang, lang_pred, CAST(lang = lang_pred AS INT) AS is_match
FROM (
  SELECT doc_id, lang, CASE {_LANG_CASES} END AS lang_pred
  FROM (SELECT *, {_TOKENS} AS toks, {_LANG_MAX} AS m FROM documents)
)
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: exact md5 of normalized text + 64-bit
    SimHash (near-dup sketch; scalable explode-aggregate form)."""
    docs = load_table(spark, sf_dir, "documents")
    exact = docs.select("doc_id", tx.doc_fingerprint(F.col("text")).alias("fingerprint"))
    return exact.join(
        dd.simhash_df(docs).withColumnRenamed("sh", "simhash"), "doc_id"
    )


_FINGERPRINT_SQL = f"""
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
       {_simhash_sql(_TOKENS)} AS simhash
FROM documents
"""


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dedup(load_table(spark, sf_dir, "documents"))


_DEDUP_EXACT_SQL = """
WITH fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
),
canon AS (SELECT fp, min(doc_id) AS canonical_id, count(*) AS group_size FROM fp GROUP BY fp)
SELECT doc_id, canonical_id, group_size, doc_id = canonical_id AS is_canonical
FROM fp JOIN canon USING (fp)
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.35)


_NGRAM_JACCARD_SQL = f"""
WITH sh AS (
  SELECT lang AS blk, doc_id, {_shingle_hashes_sql()} AS sh
  FROM (SELECT *, {_TOKENS} AS toks FROM documents)
  WHERE len({_shingles_sql('toks')}) > 0
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(len(list_intersect(a.sh, b.sh))
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh))
      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.35
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"), threshold=0.35)


def _minhash_sql() -> str:
    perms = ", ".join(
        f"list_min(list_transform(sh, h -> ({a} * (h % {dd.MINHASH_P}) + {b}) % {dd.MINHASH_P}))"
        for a, b in dd.MINHASH_PERMS
    )
    band_rows = []
    for band in range(dd.MINHASH_BANDS):
        concat = " || ',' || ".join(
            f"CAST(sig[{band * dd.MINHASH_ROWS + r + 1}] AS VARCHAR)"
            for r in range(dd.MINHASH_ROWS)
        )
        band_rows.append(
            f"SELECT doc_id, {band} AS band, "
            f"{_H64.format(x=concat)} AS band_key FROM sigs"
        )
    bands_union = " UNION ALL ".join(band_rows)
    return f"""
WITH docs_sh AS (
  SELECT doc_id, {_shingle_hashes_sql()} AS sh
  FROM (SELECT *, {_TOKENS} AS toks FROM documents)
),
sigs AS (
  SELECT doc_id, sh, [{perms}] AS sig FROM docs_sh WHERE len(sh) > 0
),
bands AS ({bands_union}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b,
       round(len(list_intersect(a.sh, b.sh))
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
FROM cand JOIN sigs a ON cand.doc_a = a.doc_id JOIN sigs b ON cand.doc_b = b.doc_id
WHERE len(list_intersect(a.sh, b.sh))
      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.35
"""


# Transitive closure over the MINHASH-LSH pair relation — the cluster
# CTE chain every LSH-backed production dedup oracle shares (the r12
# leakage split, `dedup_clusters_minhash`, and since r13 the two
# quality-aware canonical selections): the registered `dedup_minhash_lsh`
# SQL verbatim as the pairs CTE, then the same edges/reach/labels/sizes
# chain as `_CLUSTERS_CTES`.
def _mh_clusters_ctes() -> str:
    return f"""pairs_mh AS MATERIALIZED (
{_minhash_sql()}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs_mh
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs_mh
),
reach AS (
  SELECT doc_id, doc_id AS label FROM documents
  UNION
  SELECT e.src AS doc_id, r.label FROM edges e JOIN reach r ON e.dst = r.doc_id
),
labels AS (SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY cluster_id)"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash_pairs(load_table(spark, sf_dir, "documents"), max_hamming=3)


def _simhash_pairs_sql() -> str:
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, sh, {i} AS band, (sh >> {shift}) & {mask} AS bval FROM sh"
        for i, (shift, mask) in enumerate(dd.SIMHASH_BAND_SHIFTS)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, {_simhash_sql(_TOKENS)} AS sh FROM documents
),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, x.sh AS sh_a, y.sh AS sh_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b, sh_a, sh_b, bit_count(xor(sh_a, sh_b)) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.cosine_dup_pairs(load_table(spark, sf_dir, "embeddings"), threshold=0.2)


# Planted-pair variant (round 12): `dedup_embedding_cosine`'s sf0.01
# CORRECTNESS row is vacuous — the random fixture has no pair above
# threshold, so both engines return 0 rows and the green row proves
# only that empty == empty. This variant derives a fixture WITH known
# near-duplicates inside the query (the planted-pair pattern
# tests/test_llm_ops.py uses): the first PLANT_N vectors are re-added
# under offset ids, each dimension scaled by a positive deterministic
# factor in {1.0, 1.1, 1.2}. Positive scaling preserves every sign
# bit, so each plant lands in its original's LSH bucket, and the
# per-dimension wobble keeps cosine non-trivial (≥ ~0.9959, above the
# production 0.95 threshold) — the banding, pair join, norm
# arithmetic, and threshold gate are all exercised with rows > 0.
PLANT_N = 25
PLANT_OFFSET = 1_000_000


def _planted_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    plants = (
        base.filter(F.col("vec_id") < PLANT_N)
        # Two selects: the factor's vec_id must be the ORIGINAL id — in
        # a single projection the lambda's F.col("vec_id") resolves to
        # the offset output column (1e6 % 3 = 1 shifts the cycle).
        .select(
            "vec_id",
            F.transform(
                F.col("embedding"),
                lambda x, i: x
                * (
                    F.lit(1.0)
                    + F.lit(0.1) * ((i + F.col("vec_id")) % 3).cast("double")
                ),
            ).alias("embedding"),
        )
        .select(
            (F.col("vec_id") + F.lit(PLANT_OFFSET)).alias("vec_id"), "embedding"
        )
    )
    return base.unionByName(plants)


def dedup_embedding_cosine_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.cosine_dup_pairs(_planted_embeddings(spark, sf_dir), threshold=0.95)


_COSINE_PLANTED_SQL = f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
),
plants AS (
  SELECT vec_id + {PLANT_OFFSET} AS vec_id,
         [vec[i + 1] * (1.0 + 0.1 * CAST((i + vec_id) % 3 AS DOUBLE))
          for i in range(len(vec))] AS vec
  FROM base WHERE vec_id < {PLANT_N}
),
e AS (
  SELECT vec_id, vec, {_sig_sql('vec')} AS sig
  FROM (SELECT * FROM base UNION ALL SELECT * FROM plants)
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_cosine_sql('a.vec', 'b.vec')}, 6) AS sim
FROM e a JOIN e b ON a.sig = b.sig AND a.vec_id < b.vec_id
WHERE {_cosine_sql('a.vec', 'b.vec')} >= 0.95
"""


def _cosine_pairs_sql(threshold: float) -> str:
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec,
         {_sig_sql('(embedding::DOUBLE[])')} AS sig
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_cosine_sql('a.vec', 'b.vec')}, 6) AS sim
FROM e a JOIN e b ON a.sig = b.sig AND a.vec_id < b.vec_id
WHERE {_cosine_sql('a.vec', 'b.vec')} >= {threshold}
"""


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_N_QUERIES = 20


def _queries_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _N_QUERIES)


def _recall_at_5(spark: SparkSession, sf_dir: str, exact_knn, approx_knn) -> DataFrame:
    """ANN quality as an oracle-checked NUMBER: per-query recall@5 of
    the `approx_knn` search against the `exact_knn` brute force, plus
    the mean as q_id = -1. The join is per-query top-5 against top-5 —
    trivially small at any corpus size.

    The exact side is pure scan+score compute; the approx side starts
    with quantizer training (its own eager jobs). So exact materializes
    on a background thread while the index side is built and forced
    here (guide §2.6; identical rows either way, pin.py toggle). The
    result is pinned, then both persisted sides are released."""
    e = load_table(spark, sf_dir, "embeddings")
    q = _queries_df(spark, sf_dir)
    exact = exact_knn(e, q, k=5).select("q_id", "n_id").persist()
    wait_exact = materialize_async(exact)
    approx = approx_knn(e, q, k=5).select("q_id", "n_id").persist()
    materialize(approx)
    wait_exact()
    per_q = (
        exact.join(approx, ["q_id", "n_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count("*").alias("n_hits"))
    )
    per_query = (
        exact.select("q_id").distinct()
        .join(per_q, "q_id", "left")
        .select(
            "q_id",
            F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / 5.0, 6).alias("recall_at_5"),
        )
    )
    summary = per_query.agg(
        F.lit(-1).cast("long").alias("q_id"),
        F.round(F.avg("recall_at_5"), 6).alias("recall_at_5"),
    )
    out = pin_result(per_query.unionByName(summary))
    exact.unpersist()
    approx.unpersist()
    return out


def ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return sim.knn_bruteforce(e, _queries_df(spark, sf_dir), k=5)


_ANN_BF_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         {_cosine_sql('q.vec', 'c.vec')} AS sim
  FROM (SELECT * FROM e WHERE vec_id < {_N_QUERIES}) q
  JOIN e c ON q.vec_id <> c.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
  FROM scored
)
SELECT q_id, n_id, rank, round(sim, 6) AS sim FROM ranked WHERE rank <= 5
"""


def ann_bruteforce_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same exact-kNN semantics through the vectorized pandas_udf path
    (§2.10 UDF surface) — checked against the identical oracle as the
    Catalyst-lambda version."""
    e = load_table(spark, sf_dir, "embeddings")
    return sim.knn_bruteforce_pandas(e, _queries_df(spark, sf_dir), k=5)


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return sim.knn_lsh(e, _queries_df(spark, sf_dir), k=5)


_ANN_LSH_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
eq AS (SELECT * FROM e WHERE vec_id < {_N_QUERIES}),
qt AS ({_lsh_tables_sql('eq', 'q_id')}),
ct AS ({_lsh_tables_sql('e', 'n_id')}),
cand AS (
  SELECT DISTINCT q.q_id, q.vec AS q_vec, c.n_id, c.vec AS n_vec
  FROM ct c JOIN qt q ON c.tbl = q.tbl AND c.sig = q.sig AND q.q_id <> c.n_id
),
scored AS (
  SELECT q_id, n_id, {_cosine_sql('q_vec', 'n_vec')} AS sim FROM cand
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
  FROM scored
)
SELECT q_id, n_id, rank, round(sim, 6) AS sim FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media plumbing: attach a binary content column, extract
    typed metadata via the Arrow-batched mapInPandas decoder (fake
    decode — see operators/multimodal.py). The oracle reproduces the
    fake decoder's hash arithmetic in SQL, so even the Pandas-UDF path
    is value-checked."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm.attach_binary_content(docs)
    return mm.decode_image_meta(media).select(
        "doc_id", "media_type", "width", "height", "n_bytes", "content_md5"
    )


_MULTIMODAL_SQL = """
SELECT doc_id,
       'application/octet-stream' AS media_type,
       CAST(64 + CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 1920 AS INT) AS width,
       CAST(64 + (CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) >> 12) % 1080 AS INT) AS height,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5
FROM documents
"""


# The exact baseline's evaluation stratum (round 14, r13 verdict ask
# #6): a FIXED doc_id bound, not a fraction — vacuous at sf0.01 (500
# docs, so the baseline stays exact-FULL where the driver certifies
# it, output bit-identical to pre-stratum rounds) and a bounded
# 1000-doc stratum at sf0.1+ where the quadratic generator made this
# the sweep's single most expensive query (~279 s under load). This is
# also the honest 100 TB shape for an intentionally-quadratic audit:
# ground truth on a fixed-size stratum, never the full corpus (the
# same discipline `dedup_lsh_recall_vs_exact` documents).
NGRAM_BASELINE_STRATUM = 1000


def dedup_clusters_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering over the EXACT all-pairs n-gram-Jaccard
    graph — the explicitly-named exact baseline (quadratic within lang
    blocks, like `dedup_ngram_jaccard` itself), evaluated on the fixed
    `doc_id < NGRAM_BASELINE_STRATUM` stratum (full corpus at sf0.01;
    see the constant's comment): connected components (min-label
    propagation) oracle-checked against a DuckDB recursive-CTE
    transitive closure. Production clustering — and every
    production-semantic consumer (`dedup_keep_best`,
    `dedup_keep_best_quality`, `split_leakage_safe`) — uses the
    linear banded-LSH sibling `dedup_clusters_minhash`; keep this form
    for recall ground-truth at small scale only."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < NGRAM_BASELINE_STRATUM
    )
    pairs = dd.ngram_jaccard_pairs(docs, threshold=0.35)
    return dd.dedup_clusters(docs, pairs)


# The recursive transitive-closure CTE chain over the exact n-gram
# pair graph (sole consumer: `dedup_clusters_ngram` — the keep-best
# oracles re-based onto the MinHash closure CTEs in round 13).
_CLUSTERS_CTES = f"""docs_s AS (
  SELECT * FROM documents WHERE doc_id < {NGRAM_BASELINE_STRATUM}
),
sh AS (
  SELECT lang AS blk, doc_id, {_shingle_hashes_sql()} AS sh
  FROM (SELECT *, {_TOKENS} AS toks FROM docs_s)
  WHERE len({_shingles_sql('toks')}) > 0
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sh, b.sh))
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.35
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach AS (
  SELECT doc_id, doc_id AS label FROM docs_s
  UNION
  SELECT e.src AS doc_id, r.label FROM edges e JOIN reach r ON e.dst = r.doc_id
),
labels AS (SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY cluster_id)"""

_CLUSTERS_SQL = f"""
WITH RECURSIVE
{_CLUSTERS_CTES}
SELECT doc_id, cluster_id, cluster_size FROM labels JOIN sizes USING (cluster_id)
"""


def token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-frequency table (top-100): explode + count — the
    Zipf-curve primitive behind vocabulary builders. At scale this is
    one shuffle with map-side combine."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tx.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(100)
    )


_TOKEN_FREQ_SQL = f"""
SELECT token, count(*) AS freq
FROM (SELECT unnest({_TOKENS}) AS token FROM documents)
GROUP BY token
ORDER BY freq DESC, token
LIMIT 100
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition ratio: 1 - distinct_3grams/total_3grams —
    the standard repetitiousness signal for LLM-corpus filtering.
    Computed relationally (one pass over shingle rows)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tx.tokens(F.col("text"))).alias("pos", "tok")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    sh = toks.select(
        "doc_id",
        F.concat_ws(" ", F.col("tok"), F.lead("tok", 1).over(w), F.lead("tok", 2).over(w)).alias(
            "shingle"
        ),
        F.lead("tok", 2).over(w).alias("tail"),
    ).filter(F.col("tail").isNotNull())
    return sh.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.countDistinct("shingle").alias("n_distinct"),
        F.round(
            F.lit(1.0) - F.countDistinct("shingle") / F.count(F.lit(1)), 6
        ).alias("repetition_ratio"),
    )


_REPETITION_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest({_shingles_sql('toks')}) AS shingle
  FROM (SELECT *, {_TOKENS} AS toks FROM documents)
)
SELECT doc_id, count(*) AS n_shingles,
       count(DISTINCT shingle) AS n_distinct,
       round(1.0 - count(DISTINCT shingle) / count(*), 6) AS repetition_ratio
FROM sh GROUP BY doc_id
"""


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation — the composite pipeline these
    operators exist for: exact-dedup to canonical docs, then keep docs
    passing token-count and quality gates; emit per-doc metrics plus
    the dedup group size. One scan + one fingerprint shuffle; every
    stage is a column expression, so the whole pipeline fuses."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    stats = docs.select(
        "doc_id",
        "lang",
        tx.token_count(text).alias("n_tokens"),
        F.round(tx.quality_score(text), 6).alias("quality"),
    )
    dedup = dd.exact_dedup(docs).select("doc_id", "group_size", "is_canonical")
    return (
        stats.join(dedup, "doc_id")
        .filter(
            F.col("is_canonical")
            & (F.col("n_tokens") >= 20)
            & (F.col("n_tokens") <= 500)
            & (F.col("quality") >= 0.5)
        )
        .select("doc_id", "lang", "n_tokens", "quality", "group_size")
    )


_CURATION_SQL = f"""
WITH stats AS (
  SELECT doc_id, lang, len(toks) AS n_tokens,
         round(least(1.0, len(toks) / 50.0) * 0.4
               + (1.0 - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))) / length(text)) * 0.3
               + least(1.0, ({_stop_hits_sql('en')} / len(toks)) * 5.0) * 0.3, 6) AS quality
  FROM (SELECT *, {_TOKENS} AS toks FROM documents)
),
fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
),
canon AS (SELECT fp, min(doc_id) AS canonical_id, count(*) AS group_size FROM fp GROUP BY fp)
SELECT doc_id, lang, n_tokens, quality, group_size
FROM stats
JOIN fp USING (doc_id)
JOIN canon USING (fp)
WHERE doc_id = canonical_id AND n_tokens BETWEEN 20 AND 500 AND quality >= 0.5
"""


# ---------------------------------------------------------------------------
# registration
# ---------------------------------------------------------------------------

register("text_stats", text_stats, _TEXT_STATS_SQL)
register("text_lang_id", text_lang_id, _TEXT_LANG_SQL)
register("doc_fingerprints", doc_fingerprints, _FINGERPRINT_SQL)
register("dedup_exact", dedup_exact, _DEDUP_EXACT_SQL)
register("dedup_ngram_jaccard", dedup_ngram_jaccard, _NGRAM_JACCARD_SQL)
register("dedup_minhash_lsh", dedup_minhash_lsh, _minhash_sql())
register("dedup_simhash", dedup_simhash, _simhash_pairs_sql())
register("dedup_embedding_cosine", dedup_embedding_cosine, _cosine_pairs_sql(0.2))
register(
    "dedup_embedding_cosine_planted",
    dedup_embedding_cosine_planted,
    _COSINE_PLANTED_SQL,
)
register("ann_bruteforce", ann_bruteforce, _ANN_BF_SQL)
register("ann_bruteforce_pandas", ann_bruteforce_pandas, _ANN_BF_SQL)
register("ann_lsh", ann_lsh, _ANN_LSH_SQL)
register("multimodal_meta", multimodal_meta, _MULTIMODAL_SQL)
register("curation_pipeline", curation_pipeline, _CURATION_SQL)
register("token_frequencies", token_frequencies, _TOKEN_FREQ_SQL)
register("text_repetition", text_repetition, _REPETITION_SQL)
register("dedup_clusters_ngram", dedup_clusters_ngram, _CLUSTERS_SQL)


def decontaminate_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any 3-gram
    shingle with the eval subset (deterministically marked as
    doc_id % 53 == 0). One corpus scan + broadcast of the (small) eval
    shingle set — no fact-table shuffle (`operators/dedup.py:
    decontaminate`)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.decontaminate(docs, F.col("doc_id") % 53 == 0)


_DECONTAM_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest({_shingle_hashes_sql()}) AS h
  FROM (SELECT *, {_TOKENS} AS toks FROM documents)
  WHERE len({_shingles_sql('toks')}) > 0
)
SELECT t.doc_id,
       count(DISTINCT t.h) AS n_shared_shingles,
       count(DISTINCT e.doc_id) AS n_eval_docs
FROM sh t JOIN sh e ON t.h = e.h
WHERE t.doc_id % 53 <> 0 AND e.doc_id % 53 = 0
GROUP BY t.doc_id
"""


SAMPLE_RATES_PERMILLE = {"en": 300, "de": 800, "es": 800, "fr": 800, "zh": 800}


def sample_stratified_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: downsample dominant 'en' to
    30%, keep other languages at 80% — corpus rebalancing with an
    md5 draw that is reproducible across engines and partitionings
    (`operators/text.py:stratified_sample`)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.stratified_sample(docs.select("doc_id", "lang", "source"),
                                SAMPLE_RATES_PERMILLE).select("doc_id", "lang", "source")


_SAMPLE_SQL = """
WITH rates(lang, rate_permille) AS (VALUES
    ('de', 800), ('en', 300), ('es', 800), ('fr', 800), ('zh', 800))
SELECT doc_id, documents.lang, source
FROM documents JOIN rates ON documents.lang = rates.lang
WHERE CAST(('0x' || substr(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      % 1000 < rate_permille
"""


register("decontaminate_eval_overlap", decontaminate_eval_overlap, _DECONTAM_SQL)


def decontaminate_eval_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination: training docs that are NEAR-
    duplicates (MinHash-LSH candidates verified at Jaccard >= 0.35) of
    any eval-subset doc (doc_id % 7 == 0 — a wider deterministic eval
    slice than the exact check's % 53, so the fuzzy pass has hits to
    certify at both test scales). The exact-overlap check
    (`decontaminate_eval_overlap`) catches verbatim leakage; this
    catches the paraphrased/reformatted copies that survive it — the
    GPT-3-style fuzzy pass every benchmark-hygiene pipeline runs next.
    Reuses the registered LSH pair generation unchanged (banded
    equi-join, candidate-only verification), then keeps cross-side
    pairs only; per training doc: how many eval docs it collides with
    and the worst similarity."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(docs, threshold=0.35)
    a_eval = (F.col("doc_a") % 7) == 0
    b_eval = (F.col("doc_b") % 7) == 0
    return (
        pairs.filter(a_eval != b_eval)
        .select(
            F.when(a_eval, F.col("doc_b")).otherwise(F.col("doc_a")).alias("doc_id"),
            "jaccard",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_eval_matches"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


def _decontam_minhash_sql() -> str:
    # The registered MinHash-LSH pair SQL verbatim as a nested CTE —
    # the fuzzy decontamination is certified from the same text that
    # certifies the pair generation.
    return f"""
WITH pairs_mh AS MATERIALIZED (
{_minhash_sql()}
),
x_side AS (
  SELECT CASE WHEN doc_a % 7 = 0 THEN doc_b ELSE doc_a END AS doc_id, jaccard
  FROM pairs_mh
  WHERE (doc_a % 7 = 0) <> (doc_b % 7 = 0)
)
SELECT doc_id, count(*) AS n_eval_matches, max(jaccard) AS max_jaccard
FROM x_side GROUP BY doc_id
"""


register(
    "decontaminate_eval_minhash", decontaminate_eval_minhash, _decontam_minhash_sql()
)
register("sample_stratified_lang", sample_stratified_lang, _SAMPLE_SQL)


NGRAM_DECONTAM_K = 13  # the GPT-3/PaLM-standard collision window
_SPAN_TOKENS_Q = 20  # fixture docs are 10-99 tokens; operator default is 50


def decontaminate_eval_ngram13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """13-gram collision decontamination — the GPT-3 appendix-C /
    PaLM-standard middle ground between the exact-doc overlap check
    (`decontaminate_eval_overlap`) and the whole-doc fuzzy MinHash pass
    (`decontaminate_eval_minhash`): a training document is flagged if
    ANY 13-token window of it appears verbatim in the eval slice
    (doc_id % 7 == 0, the same slice the fuzzy pass audits). Catches
    quoted benchmark questions embedded inside otherwise-novel
    documents, which doc-level Jaccard dilutes below threshold.

    Plan: one distinct-(doc, 13-gram-hash) pass (the registered shingle
    machinery, `operators/text.py:shingle_hash_rows`, at k=13), split
    into eval/train sides, one equi-join on the 60-bit gram hash, one
    count-per-doc aggregate. At scale the eval side is a real benchmark
    suite (thousands of docs, not a 1/7 corpus slice) — AQE broadcasts
    it and the join is map-side; the train side streams through once."""
    docs = load_table(spark, sf_dir, "documents")
    grams = tx.shingle_hash_rows(docs, k=NGRAM_DECONTAM_K)
    is_eval = (F.col("doc_id") % 7) == 0
    eval_g = grams.filter(is_eval).select(F.col("h").alias("eh")).distinct()
    train_g = grams.filter(~is_eval)
    totals = train_g.groupBy("doc_id").agg(F.count("*").alias("n_ngrams"))
    hits = (
        train_g.join(eval_g, F.col("h") == F.col("eh"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_ngrams",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit_ngrams"),
            (F.coalesce(F.col("n_hit"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def _decontam_ngram13_sql() -> str:
    sh13 = _shingles_sql("toks", k=NGRAM_DECONTAM_K)
    return f"""
WITH tokd AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform({sh13}, s -> {_H64.format(x='s')}))) AS h
  FROM tokd
),
eval_g AS (SELECT DISTINCT h FROM grams WHERE doc_id % 7 = 0),
train_g AS (SELECT doc_id, h FROM grams WHERE doc_id % 7 <> 0),
tot AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams FROM train_g GROUP BY 1
),
hits AS (
  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_hit
  FROM train_g t JOIN eval_g e USING (h) GROUP BY 1
)
SELECT t.doc_id, t.n_ngrams,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit_ngrams,
       coalesce(h.n_hit, 0) > 0 AS contaminated
FROM tot t LEFT JOIN hits h USING (doc_id)
"""


register("decontaminate_eval_ngram13", decontaminate_eval_ngram13, _decontam_ngram13_sql())


def eval_burn_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REVERSE contamination view — the question the benchmark
    owner asks: which eval items are BURNED (leaked into training
    data) and how badly? Per eval-slice document (doc_id % 7 == 0, the
    same slice `decontaminate_eval_ngram13` gates against): its 13-gram
    count, how many of those grams appear in ANY training document, and
    how many distinct training documents collide with it. An eval item
    with burned grams can no longer measure generalization —
    this report is what decides re-drawing it, while the forward query
    decides dropping the training docs. Same distinct-gram machinery,
    same single equi-join (grouped from the eval side), one aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    grams = tx.shingle_hash_rows(docs, k=NGRAM_DECONTAM_K)
    is_eval = (F.col("doc_id") % 7) == 0
    eval_g = grams.filter(is_eval)
    train_g = grams.filter(~is_eval).select(
        F.col("doc_id").alias("train_doc"), F.col("h").alias("th")
    )
    totals = eval_g.groupBy("doc_id").agg(F.count("*").alias("n_ngrams"))
    hits = (
        eval_g.join(train_g, F.col("h") == F.col("th"))
        .groupBy("doc_id")
        .agg(
            F.countDistinct("h").alias("n_burned_ngrams"),
            F.countDistinct("train_doc").alias("n_train_docs"),
        )
    )
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_ngrams",
            F.coalesce(F.col("n_burned_ngrams"), F.lit(0))
            .cast("long")
            .alias("n_burned_ngrams"),
            F.coalesce(F.col("n_train_docs"), F.lit(0))
            .cast("long")
            .alias("n_train_docs"),
            (F.coalesce(F.col("n_burned_ngrams"), F.lit(0)) > 0).alias("burned"),
        )
    )


def _eval_burn_sql() -> str:
    sh13 = _shingles_sql("toks", k=NGRAM_DECONTAM_K)
    return f"""
WITH tokd AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform({sh13}, s -> {_H64.format(x='s')}))) AS h
  FROM tokd
),
eval_g AS (SELECT doc_id, h FROM grams WHERE doc_id % 7 = 0),
train_g AS (SELECT doc_id AS train_doc, h FROM grams WHERE doc_id % 7 <> 0),
tot AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams FROM eval_g GROUP BY 1
),
hits AS (
  SELECT e.doc_id,
         CAST(count(DISTINCT e.h) AS BIGINT) AS n_burned,
         CAST(count(DISTINCT t.train_doc) AS BIGINT) AS n_train_docs
  FROM eval_g e JOIN train_g t USING (h) GROUP BY 1
)
SELECT t.doc_id, t.n_ngrams,
       CAST(coalesce(h.n_burned, 0) AS BIGINT) AS n_burned_ngrams,
       CAST(coalesce(h.n_train_docs, 0) AS BIGINT) AS n_train_docs,
       coalesce(h.n_burned, 0) > 0 AS burned
FROM tot t LEFT JOIN hits h USING (doc_id)
"""


register("eval_burn_report", eval_burn_report, _eval_burn_sql())


def decontaminate_eval_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-level benchmark decontamination — the longest-contiguous-
    overlap check the GPT-4/Llama eval-hygiene reports run (e.g. "drop
    a training doc sharing any 50-token run with an eval item"),
    completing the decontamination ladder: exact doc overlap →
    MinHash near-dup → 13-gram collision → exact token SPANS. Reuses
    `operators/dedup.py:cross_snapshot_substring` with the eval slice
    (doc_id % 7 == 0 — the same slice the MinHash/13-gram passes gate
    against) as the "history" side: per TRAIN doc, how many eval items
    it shares a ≥ K-token exact run with, how many distinct maximal
    runs, and the LONGEST run (the number the report quotes). K=20
    like the other substring queries (fixture docs are 10-99 tokens;
    production default 50). Scale shape unchanged from the certified
    substring family: shingle hashes computed inside codegen (8-byte
    keys), one hash equi-join against the benchmark-sized eval side
    (broadcast at scale), per-(pair, diagonal) run merge."""
    docs = load_table(spark, sf_dir, "documents")
    is_eval = (F.col("doc_id") % 7) == 0
    eval_docs = docs.filter(is_eval).select("doc_id", "text")
    train = docs.filter(~is_eval).select("doc_id", "text")
    out = dd.cross_snapshot_substring(eval_docs, train, span_tokens=_SPAN_TOKENS_Q)
    return out.select(
        "doc_id",
        F.col("n_dup_sources").alias("n_eval_sources"),
        "n_spans",
        "max_span_len",
        F.col("is_novel").alias("is_clean"),
    )


def _decontam_substring_sql(k: int = 20) -> str:
    h = _H64.format(x=f"array_to_string(toks[i.i : i.i + {k} - 1], ' ')")
    return f"""
WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
sh AS (
  SELECT doc_id, i.i AS pos, {h} AS h
  FROM t, unnest(range(1, len(toks) - {k} + 2)) AS i(i)
  WHERE len(toks) >= {k}
),
hist AS (SELECT doc_id AS doc_h, pos AS pos_h, h FROM sh WHERE doc_id % 7 = 0),
new AS (SELECT doc_id AS doc_b, pos AS pos_b, h FROM sh WHERE doc_id % 7 <> 0),
m AS (
  SELECT n.doc_b, hi.doc_h, n.pos_b, n.pos_b - hi.pos_h AS diag
  FROM new n JOIN hist hi ON n.h = hi.h
),
runs AS (
  SELECT *, pos_b - row_number() OVER (PARTITION BY doc_b, doc_h, diag ORDER BY pos_b) AS isl
  FROM m
),
spans AS (
  SELECT doc_b, doc_h, max(pos_b) - min(pos_b) + {k} AS span_len
  FROM runs GROUP BY doc_b, doc_h, diag, isl
),
per_doc AS (
  SELECT doc_b, count(DISTINCT doc_h) AS n_eval_sources, count(*) AS n_spans,
         max(span_len) AS max_span_len
  FROM spans GROUP BY doc_b
)
SELECT d.doc_id,
       coalesce(p.n_eval_sources, 0) AS n_eval_sources,
       coalesce(p.n_spans, 0) AS n_spans,
       coalesce(p.max_span_len, 0) AS max_span_len,
       p.n_eval_sources IS NULL AS is_clean
FROM (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0) d
LEFT JOIN per_doc p ON d.doc_id = p.doc_b
"""


register(
    "decontaminate_eval_substring",
    decontaminate_eval_substring,
    _decontam_substring_sql(_SPAN_TOKENS_Q),
)


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, log2-bin) document length histogram — the data-card
    staple every corpus release publishes (and the input to
    length-aware packing/batching decisions): for each source and each
    power-of-two character bin, the doc count, char mass, and bin
    bounds. Integer-deterministic: floor(log2(n)) of a positive BIGINT
    is exact in IEEE double for n < 2^49, far past any document length.
    One scan, one map-side-combinable aggregate over |sources| × ~20
    bins — trivially 100 TB-safe."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    b = F.floor(F.log2(F.col("n_chars"))).cast("long").alias("len_bin")
    return (
        docs.groupBy("source", b)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("source", "len_bin")
    )


_LEN_HIST_SQL = """
SELECT source,
       CAST(floor(log2(n_chars)) AS BIGINT) AS len_bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents
WHERE n_chars > 0
GROUP BY 1, 2
"""


register("doc_length_histogram", doc_length_histogram, _LEN_HIST_SQL)


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN (the index-structure scale path next to the LSH
    one): deterministic quantized-integer centroids make the whole
    index + search oracle-checkable (`operators/similarity.py:
    knn_ivf`)."""
    e = load_table(spark, sf_dir, "embeddings")
    return sim.knn_ivf(e, _queries_df(spark, sf_dir), k=5)


def _ivf_sql(inv_filter: str = "", nprobe: int = sim.IVF_NPROBE) -> str:
    """The IVF-flat oracle, parameterized on an extra candidate-id
    predicate appended to the inverted-list CTE (empty for the plain
    index; the filtered variant injects a semi-join on documents) and
    on the probe width (the recall-curve query sweeps it)."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
comp0 AS (
  SELECT vec_id % {sim.IVF_CELLS} AS cell, t.i AS dim,
         sum(CAST(floor(vec[t.i] * {sim.IVF_QUANT}) AS BIGINT)) AS s
  FROM e, unnest(range(1, len(vec)+1)) AS t(i)
  GROUP BY 1, 2
),
cents0 AS (SELECT cell, list(s::DOUBLE ORDER BY dim) AS cvec FROM comp0 GROUP BY cell),
-- one Lloyd round: re-assign to nearest seed centroid, re-aggregate
assign AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cosine_sql('e.vec', 'c.cvec')} DESC, c.cell) AS r
    FROM e CROSS JOIN cents0 c) WHERE r = 1
),
comp AS (
  SELECT a.cell, t.i AS dim,
         sum(CAST(floor(vec[t.i] * {sim.IVF_QUANT}) AS BIGINT)) AS s
  FROM e JOIN assign a USING (vec_id), unnest(range(1, len(vec)+1)) AS t(i)
  GROUP BY 1, 2
),
cents AS (SELECT cell, list(s::DOUBLE ORDER BY dim) AS cvec FROM comp GROUP BY cell),
inv AS (
  SELECT n_id, n_vec, cell FROM (
    SELECT e.vec_id AS n_id, e.vec AS n_vec, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cosine_sql('e.vec', 'c.cvec')} DESC, c.cell) AS r
    FROM e CROSS JOIN cents c) WHERE r = 1 {inv_filter}
),
probes AS (
  SELECT q_id, q_vec, cell FROM (
    SELECT q.vec_id AS q_id, q.vec AS q_vec, c.cell,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_cosine_sql('q.vec', 'c.cvec')} DESC, c.cell) AS r
    FROM (SELECT * FROM e WHERE vec_id < {_N_QUERIES}) q CROSS JOIN cents c)
  WHERE r <= {nprobe}
),
scored AS (
  SELECT q_id, n_id, {_cosine_sql('q_vec', 'n_vec')} AS sim
  FROM inv JOIN probes USING (cell) WHERE q_id <> n_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
  FROM scored
)
SELECT q_id, n_id, rank, round(sim, 6) AS sim FROM ranked WHERE rank <= 5
"""


register("ann_ivf", ann_ivf, _ivf_sql())


def ann_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search (`operators/similarity.py:
    knn_ivf(..., allowed=)`): top-5 among only the vectors whose
    document is English, against the SHARED full-corpus IVF index — the
    production one-index-many-filters shape. The predicate is a
    semi-join on the candidate ids inside the probed cells, never a
    rebuild."""
    e = load_table(spark, sf_dir, "embeddings")
    allowed = load_table(spark, sf_dir, "documents").filter(
        F.col("lang") == "en"
    ).select(F.col("doc_id").alias("id"))
    return sim.knn_ivf(e, _queries_df(spark, sf_dir), k=5, allowed=allowed)


register(
    "ann_ivf_filtered",
    ann_ivf_filtered,
    _ivf_sql(
        "AND n_id IN (SELECT doc_id FROM documents WHERE lang = 'en')"
    ),
)


def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (`operators/similarity.py:knn_pq`) —
    the MEMORY-bound scale path next to IVF's compute-bound one: the
    corpus compresses to 8 four-bit codes per vector, search is
    asymmetric-distance computation against a broadcast per-query LUT,
    and raw vectors are never touched after encode time. The whole
    train/encode/search chain is deterministic (integer-quantized
    sums, exact mean division, fixed fold orders), so the oracle
    replays it exactly."""
    e = load_table(spark, sf_dir, "embeddings")
    return sim.knn_pq(e, _queries_df(spark, sf_dir), k=5)


def _pq_sql() -> str:
    m, k, q = sim.PQ_M, sim.PQ_K, sim.PQ_QUANT

    def l2(a: str, b: str) -> str:
        return (
            f"list_reduce([({a}[i] - {b}[i]) * ({a}[i] - {b}[i]) "
            f"for i in range(1, len({a}) + 1)], (p, q) -> p + q)"
        )

    def mean_books(assign: str) -> str:
        return f"""
  SELECT s, code, list(v ORDER BY sdim) AS cvec FROM (
    SELECT c.s, a.code, c.sdim,
           CAST(sum(CAST(floor(c.x * {q}) AS BIGINT)) AS DOUBLE)
             / count(*) / {q} AS v
    FROM comp c JOIN {assign} a ON c.vec_id = a.vec_id AND c.s = a.s
    GROUP BY c.s, a.code, c.sdim)
  GROUP BY s, code"""

    def nearest(books: str) -> str:
        return f"""
  SELECT vec_id, s, code FROM (
    SELECT u.vec_id, u.s, b.code,
           row_number() OVER (PARTITION BY u.vec_id, u.s
                              ORDER BY {l2('u.sub', 'b.cvec')} ASC, b.code) AS r
    FROM subs u JOIN {books} b ON u.s = b.s) WHERE r = 1"""

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
comp AS (
  SELECT vec_id, vec[t.i] AS x,
         ((t.i - 1) * {m}) // len(vec) AS s,
         (t.i - 1) - ((((t.i - 1) * {m}) // len(vec)) * len(vec)) // {m} AS sdim
  FROM e, unnest(range(1, len(vec) + 1)) AS t(i)
),
subs AS (SELECT vec_id, s, list(x ORDER BY sdim) AS sub FROM comp GROUP BY vec_id, s),
a0 AS (SELECT vec_id, s, vec_id % {k} AS code FROM subs),
b0 AS ({mean_books('a0')}),
a1 AS ({nearest('b0')}),
books AS ({mean_books('a1')}),
codes AS ({nearest('books')}),
lut AS (
  SELECT u.vec_id AS q_id, u.s, b.code, {_dot_sql('u.sub', 'b.cvec')} AS part
  FROM subs u JOIN books b ON u.s = b.s
  WHERE u.vec_id < {_N_QUERIES}
),
scored AS (
  SELECT l.q_id, c.vec_id AS n_id,
         list_reduce(list(l.part ORDER BY l.s), (p, q) -> p + q) AS score
  FROM codes c JOIN lut l ON c.s = l.s AND c.code = l.code
  WHERE l.q_id <> c.vec_id
  GROUP BY l.q_id, c.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
  FROM scored
)
SELECT q_id, n_id, rank, round(score, 6) AS score FROM ranked WHERE rank <= 5
"""


register("ann_pq", ann_pq, _pq_sql())


def ann_recall_pq_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ quality as an oracle-checked number: per-query recall@5 of
    the ADC search against exact INNER-PRODUCT brute force (PQ's
    native measure), plus the mean — same certification shape as the
    IVF and LSH ones."""
    return _recall_at_5(spark, sf_dir, sim.knn_bruteforce_dot, sim.knn_pq)


def _pq_recall_sql() -> str:
    exact_dot = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
pairs AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id, {_dot_sql('q.vec', 'c.vec')} AS score
  FROM e q JOIN e c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {_N_QUERIES}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
  FROM pairs
)
SELECT q_id, n_id FROM ranked WHERE rank <= 5
"""
    return f"""
WITH exact AS ({exact_dot}),
approx AS ({_pq_sql()}),
per_q AS (
  SELECT e.q_id,
         round(count(a.n_id) / 5.0, 6) AS recall_at_5
  FROM exact e
  LEFT JOIN approx a ON a.q_id = e.q_id AND a.n_id = e.n_id
  GROUP BY e.q_id
)
SELECT q_id, recall_at_5 FROM per_q
UNION ALL
SELECT CAST(-1 AS BIGINT), round(avg(recall_at_5), 6) FROM per_q
"""


register("ann_recall_pq_vs_exact", ann_recall_pq_vs_exact, _pq_recall_sql())


def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (`operators/similarity.py:knn_ivfpq`) — the standard
    production vector index, composed from the two registered
    quantizers: IVF cells prune the scan to nprobe inverted lists,
    PQ codes ADC-score inside them; neither raw vectors nor unprobed
    cells are touched at search time. Both quantizer trainings are
    deterministic, so the oracle replays the full composition."""
    e = load_table(spark, sf_dir, "embeddings")
    return sim.knn_ivfpq(e, _queries_df(spark, sf_dir), k=5)


def _ivfpq_sql(rank_limit: int = 5, nprobe: int = sim.IVF_NPROBE) -> str:
    m, k, q = sim.PQ_M, sim.PQ_K, sim.PQ_QUANT

    def l2(a: str, b: str) -> str:
        return (
            f"list_reduce([({a}[i] - {b}[i]) * ({a}[i] - {b}[i]) "
            f"for i in range(1, len({a}) + 1)], (p, q) -> p + q)"
        )

    def mean_books(assign: str) -> str:
        return f"""
  SELECT s, code, list(v ORDER BY sdim) AS cvec FROM (
    SELECT c.s, a.code, c.sdim,
           CAST(sum(CAST(floor(c.x * {q}) AS BIGINT)) AS DOUBLE)
             / count(*) / {q} AS v
    FROM pcomp c JOIN {assign} a ON c.vec_id = a.vec_id AND c.s = a.s
    GROUP BY c.s, a.code, c.sdim)
  GROUP BY s, code"""

    def nearest_code(books: str) -> str:
        return f"""
  SELECT vec_id, s, code FROM (
    SELECT u.vec_id, u.s, b.code,
           row_number() OVER (PARTITION BY u.vec_id, u.s
                              ORDER BY {l2('u.sub', 'b.cvec')} ASC, b.code) AS r
    FROM psubs u JOIN {books} b ON u.s = b.s) WHERE r = 1"""

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
-- IVF coarse quantizer (identical to the ann_ivf oracle)
comp0 AS (
  SELECT vec_id % {sim.IVF_CELLS} AS cell, t.i AS dim,
         sum(CAST(floor(vec[t.i] * {sim.IVF_QUANT}) AS BIGINT)) AS s
  FROM e, unnest(range(1, len(vec)+1)) AS t(i)
  GROUP BY 1, 2
),
cents0 AS (SELECT cell, list(s::DOUBLE ORDER BY dim) AS cvec FROM comp0 GROUP BY cell),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cosine_sql('e.vec', 'c.cvec')} DESC, c.cell) AS r
    FROM e CROSS JOIN cents0 c) WHERE r = 1
),
ccomp AS (
  SELECT a.cell, t.i AS dim,
         sum(CAST(floor(vec[t.i] * {sim.IVF_QUANT}) AS BIGINT)) AS s
  FROM e JOIN assign a USING (vec_id), unnest(range(1, len(vec)+1)) AS t(i)
  GROUP BY 1, 2
),
cents AS (SELECT cell, list(s::DOUBLE ORDER BY dim) AS cvec FROM ccomp GROUP BY cell),
cell_of AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cosine_sql('e.vec', 'c.cvec')} DESC, c.cell) AS r
    FROM e CROSS JOIN cents c) WHERE r = 1
),
probes AS (
  SELECT q_id, cell FROM (
    SELECT q.vec_id AS q_id, c.cell,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_cosine_sql('q.vec', 'c.cvec')} DESC, c.cell) AS r
    FROM (SELECT * FROM e WHERE vec_id < {_N_QUERIES}) q CROSS JOIN cents c)
  WHERE r <= {nprobe}
),
-- PQ codebooks + codes (identical to the ann_pq oracle)
pcomp AS (
  SELECT vec_id, vec[t.i] AS x,
         ((t.i - 1) * {m}) // len(vec) AS s,
         (t.i - 1) - ((((t.i - 1) * {m}) // len(vec)) * len(vec)) // {m} AS sdim
  FROM e, unnest(range(1, len(vec) + 1)) AS t(i)
),
psubs AS (SELECT vec_id, s, list(x ORDER BY sdim) AS sub FROM pcomp GROUP BY vec_id, s),
pa0 AS (SELECT vec_id, s, vec_id % {k} AS code FROM psubs),
pb0 AS ({mean_books('pa0')}),
pa1 AS ({nearest_code('pb0')}),
pbooks AS ({mean_books('pa1')}),
pcodes AS ({nearest_code('pbooks')}),
lut AS (
  SELECT u.vec_id AS q_id, u.s, b.code, {_dot_sql('u.sub', 'b.cvec')} AS part
  FROM psubs u JOIN pbooks b ON u.s = b.s
  WHERE u.vec_id < {_N_QUERIES}
),
-- probed-cells-only ADC scan over the code table
scored AS (
  SELECT l.q_id, pc.vec_id AS n_id,
         list_reduce(list(l.part ORDER BY l.s), (p, q) -> p + q) AS score
  FROM pcodes pc
  JOIN cell_of co ON pc.vec_id = co.vec_id
  JOIN probes p ON p.cell = co.cell
  JOIN lut l ON l.q_id = p.q_id AND l.s = pc.s AND l.code = pc.code
  WHERE l.q_id <> pc.vec_id
  GROUP BY l.q_id, pc.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
  FROM scored
)
SELECT q_id, n_id, rank, round(score, 6) AS score FROM ranked WHERE rank <= {rank_limit}
"""


register("ann_ivfpq", ann_ivfpq, _ivfpq_sql())


def ann_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ+R (`operators/similarity.py:knn_ivfpq_rerank`) — the
    production composition: the codes-only ADC scan nominates the top
    50 candidates per query (nprobe raised to 8, since re-ranking
    cannot recover unprobed cells), then the candidates alone are
    re-scored with the EXACT inner product from raw vectors. The
    re-rank fetch is a broadcast of the R·q candidate list against the
    corpus, so the refinement costs one narrow join at any scale."""
    e = load_table(spark, sf_dir, "embeddings")
    return sim.knn_ivfpq_rerank(e, _queries_df(spark, sf_dir), k=5)


def _ivfpq_rerank_sql() -> str:
    cand = _ivfpq_sql(
        rank_limit=sim.IVFPQ_RERANK, nprobe=sim.IVFPQ_RERANK_NPROBE
    )
    return f"""
WITH cand AS ({cand}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
rescored AS (
  SELECT c.q_id, c.n_id, {_dot_sql('q.vec', 'n.vec')} AS score
  FROM cand c
  JOIN e q ON q.vec_id = c.q_id
  JOIN e n ON n.vec_id = c.n_id
),
reranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
  FROM rescored
)
SELECT q_id, n_id, rank, round(score, 6) AS score FROM reranked WHERE rank <= 5
"""


register("ann_ivfpq_rerank", ann_ivfpq_rerank, _ivfpq_rerank_sql())


def ann_recall_ivfpq_rerank_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The re-ranked index's quality as an oracle-checked number:
    per-query recall@5 of IVFPQ+R against exact inner-product brute
    force, plus the mean. Re-ranking removes the code-quantization
    loss entirely — what remains is only cell-containment (did the
    probed cells hold the true neighbors?), so this number certifies
    the recall a user actually gets from the production search path."""
    return _recall_at_5(spark, sf_dir, sim.knn_bruteforce_dot, sim.knn_ivfpq_rerank)


def _ivfpq_rerank_recall_sql() -> str:
    exact_dot = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
pairs AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id, {_dot_sql('q.vec', 'c.vec')} AS score
  FROM e q JOIN e c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {_N_QUERIES}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
  FROM pairs
)
SELECT q_id, n_id FROM ranked WHERE rank <= 5
"""
    return f"""
WITH exact AS ({exact_dot}),
approx AS ({_ivfpq_rerank_sql()}),
per_q AS (
  SELECT e.q_id,
         round(count(a.n_id) / 5.0, 6) AS recall_at_5
  FROM exact e
  LEFT JOIN approx a ON a.q_id = e.q_id AND a.n_id = e.n_id
  GROUP BY e.q_id
)
SELECT q_id, recall_at_5 FROM per_q
UNION ALL
SELECT CAST(-1 AS BIGINT), round(avg(recall_at_5), 6) FROM per_q
"""


register(
    "ann_recall_ivfpq_rerank_vs_exact",
    ann_recall_ivfpq_rerank_vs_exact,
    _ivfpq_rerank_recall_sql(),
)


def ann_recall_ivfpq_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed index's quality as an oracle-checked number:
    per-query recall@5 of IVF-PQ (cell pruning AND code quantization
    both lossy) against exact inner-product brute force, plus the
    mean — the certification every ANN path in this engine carries.
    Necessarily ≤ both the IVF-only and PQ-only recalls; the number is
    the honest price of the 32× memory + nprobe/cells scan reduction."""
    return _recall_at_5(spark, sf_dir, sim.knn_bruteforce_dot, sim.knn_ivfpq)


def _ivfpq_recall_sql() -> str:
    exact_dot = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
pairs AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id, {_dot_sql('q.vec', 'c.vec')} AS score
  FROM e q JOIN e c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {_N_QUERIES}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
  FROM pairs
)
SELECT q_id, n_id FROM ranked WHERE rank <= 5
"""
    return f"""
WITH exact AS ({exact_dot}),
approx AS ({_ivfpq_sql()}),
per_q AS (
  SELECT e.q_id,
         round(count(a.n_id) / 5.0, 6) AS recall_at_5
  FROM exact e
  LEFT JOIN approx a ON a.q_id = e.q_id AND a.n_id = e.n_id
  GROUP BY e.q_id
)
SELECT q_id, recall_at_5 FROM per_q
UNION ALL
SELECT CAST(-1 AS BIGINT), round(avg(recall_at_5), 6) FROM per_q
"""


register("ann_recall_ivfpq_vs_exact", ann_recall_ivfpq_vs_exact, _ivfpq_recall_sql())


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: per-doc email/phone counts + md5 of the redacted
    text (RE2-safe patterns — Spark's Java regex and DuckDB's RE2
    agree byte-for-byte; value-checked via the md5)."""
    docs = load_table(spark, sf_dir, "documents")
    n_email, n_phone = tx.pii_counts(F.col("text"))
    return docs.select(
        "doc_id",
        n_email.alias("n_emails"),
        n_phone.alias("n_phones"),
        F.md5(tx.redact_pii(F.col("text"))).alias("redacted_md5"),
    )


_PII_SQL = (
    "SELECT doc_id,\n"
    "  len(regexp_extract_all(text, '" + tx.PII_EMAIL_RE + "')) AS n_emails,\n"
    "  len(regexp_extract_all(regexp_replace(text, '" + tx.PII_EMAIL_RE
    + "', '<EMAIL>', 'g'), '" + tx.PII_PHONE_RE + "')) AS n_phones,\n"
    "  md5(regexp_replace(regexp_replace(text, '" + tx.PII_EMAIL_RE
    + "', '<EMAIL>', 'g'), '" + tx.PII_PHONE_RE + "', '<PHONE>', 'g')) AS redacted_md5\n"
    "FROM documents"
)


_QUALITY_EXPR = (
    "round(least(1.0, len(toks) / 50.0) * 0.4"
    " + (1.0 - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))) / length(text)) * 0.3"
    f" + least(1.0, ({_stop_hits_sql('en')} / len(toks)) * 5.0) * 0.3, 6)"
)


def text_quality_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative quality gate: per-language quality quartiles
    (`operators/text.py:quality_quartiles`) — filter against the
    corpus's own distribution, not an absolute threshold."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.quality_quartiles(docs)


_QUARTILES_SQL = f"""
WITH q AS (
  SELECT doc_id, lang, {_QUALITY_EXPR} AS quality
  FROM (SELECT *, {_TOKENS} AS toks FROM documents)
)
SELECT doc_id, lang, quality,
       ntile(4) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS quartile
FROM q
"""


def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing into 2048-token budgets,
    per-language (`operators/text.py:pack_sequences`)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.pack_sequences(docs, budget_tokens=2048)


_PACK_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, len({_TOKENS}) AS n_tokens FROM documents
),
c AS (
  SELECT doc_id, lang, n_tokens,
         coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM t
)
SELECT doc_id, lang, n_tokens,
       CAST(floor(cum / 2048) AS BIGINT) AS seq_id,
       CAST(cum % 2048 AS BIGINT) AS seq_offset
FROM c
"""


register("text_pii_scrub", text_pii_scrub, _PII_SQL)
register("text_quality_quartiles", text_quality_quartiles, _QUARTILES_SQL)
register("pack_training_sequences", pack_training_sequences, _PACK_SQL)


def sample_fixed_k_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size per-stratum sample: exactly 25 docs per
    language via the salted md5 rank (`operators/text.py:
    sample_fixed_k_per_stratum`) — reservoir-sample semantics with no
    state and full reproducibility."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.sample_fixed_k_per_stratum(docs.select("doc_id", "lang"), k=25)


_FIXK_SQL = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (
             PARTITION BY lang
             ORDER BY CAST(('0x' || substr(md5('fixk:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000,
                      doc_id) AS rn
  FROM documents)
WHERE rn <= 25
"""


register("sample_fixed_k_per_lang", sample_fixed_k_per_lang, _FIXK_SQL)


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways per document: whitespace tokens, the
    chars/4 BPE estimate, and the exact GPT-2-style pre-tokenizer piece
    count (`operators/text.py:token_count_bpe_regex`) with its
    chars-per-piece ratio. Pure column expressions, one scan."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    n_bpe = tx.token_count_bpe_regex(text)
    return docs.select(
        "doc_id",
        tx.token_count(text).alias("n_tokens_ws"),
        tx.token_estimate_bpe(text).alias("n_tokens_est"),
        n_bpe.cast("long").alias("n_tokens_bpe"),
        F.round(F.length(text) / n_bpe, 6).alias("chars_per_token"),
    )


# RE2 rendering of operators/text.py:BPE_PRETOKEN_RE (SQL-quoted: the
# contraction apostrophe doubles).
_BPE_RE_SQL = r"'''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\s0-9A-Za-z]+|\s+'"

_TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       len({_TOKENS}) AS n_tokens_ws,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens_est,
       CAST(len(regexp_extract_all(text, {_BPE_RE_SQL})) AS BIGINT) AS n_tokens_bpe,
       round(length(text) / len(regexp_extract_all(text, {_BPE_RE_SQL})), 6) AS chars_per_token
FROM documents
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection over near-dup clusters: the
    banded MinHash-LSH connected components (the registered
    `dedup_clusters_minhash` structure) with the LONGEST member kept
    per cluster (tie → min doc_id) — `operators/dedup.py:
    keep_best_dedup`.

    Round 13: candidate pairs come from `minhash_lsh_pairs` (linear —
    banded equi-join, verified Jaccard ≥ 0.35 on candidates only)
    instead of the all-pairs `ngram_jaccard_pairs` generator, which is
    quadratic within its lang blocks and at 100 TB would dominate the
    job (the r12 soak measured it at ~80% of the full pipeline's
    wall-clock at only 10×). Same swap pattern as r12's
    `split_leakage_safe`; `dedup_ngram_jaccard`/`dedup_clusters_ngram`
    stay registered as the explicitly-named exact baselines."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = dd.dedup_clusters(docs, dd.minhash_lsh_pairs(docs, threshold=0.35))
    return dd.keep_best_dedup(docs, clusters)


_KEEP_BEST_SQL = f"""
WITH RECURSIVE
{_mh_clusters_ctes()},
lab AS (SELECT doc_id, cluster_id, cluster_size FROM labels JOIN sizes USING (cluster_id))
SELECT doc_id, cluster_id, cluster_size,
       first_value(doc_id) OVER (
           PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS keep_id,
       doc_id = first_value(doc_id) OVER (
           PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS keep
FROM lab JOIN documents USING (doc_id)
"""


def sample_weighted_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source weighted Bernoulli sampling — the data-mixing
    primitive (web at 0.25x, curated at 1.0x, ...). The rate derives
    from the source id (srcN → (1 + N mod 4)/4) and the draw is a
    deterministic md5 split on (doc_id, source): reproducible on any
    partitioning, no rand(), identical in DuckDB. At 100 TB this is a
    scan + filter — no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    src_num = F.substring(F.col("source"), 4, 10).cast("int")
    rate = (F.lit(1) + F.pmod(src_num, F.lit(4))) / F.lit(4.0)
    draw = (
        F.pmod(
            md5_hash64(F.concat_ws(":", F.col("doc_id"), F.col("source"))),
            F.lit(10000),
        )
        / F.lit(10000.0)
    )
    return docs.filter(draw < rate).select(
        "doc_id", "source", "lang", F.round(rate, 6).alias("sample_rate")
    )


_WEIGHTED_SQL = f"""
SELECT doc_id, source, lang,
       round((1 + CAST(substr(source, 4) AS INT) % 4) / 4.0, 6) AS sample_rate
FROM documents
WHERE ({_H64.format(x="CAST(doc_id AS VARCHAR) || ':' || source")}) % 10000 / 10000.0
      < (1 + CAST(substr(source, 4) AS INT) % 4) / 4.0
"""


register("text_token_count", text_token_count, _TOKEN_COUNT_SQL)
register("dedup_keep_best", dedup_keep_best, _KEEP_BEST_SQL)
register("sample_weighted_sources", sample_weighted_sources, _WEIGHTED_SQL)


def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window preparation: split each document into fixed-size
    character chunks (size 200, stride 150 → 50-char overlap). A pure
    `sequence` + `substring` explode — per-row expansion with no
    shuffle at all, so it streams through a 100 TB corpus map-side;
    chunk count per doc is ceil((len-overlap)/stride) bounded by doc
    length. Emits (doc_id, chunk_id, chunk_start, chunk_text)."""
    size, stride = 200, 150
    docs = load_table(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.ceil((F.length("text") - size) / stride).cast("int"), F.lit(0)),
    )
    return (
        docs.select("doc_id", "text", F.explode(starts).alias("chunk_id"))
        .select(
            "doc_id",
            "chunk_id",
            (F.col("chunk_id") * stride).cast("long").alias("chunk_start"),
            F.substring(F.col("text"), F.col("chunk_id") * stride + 1, size).alias(
                "chunk_text"
            ),
        )
    )


_CHUNK_SQL = """
SELECT doc_id,
       i AS chunk_id,
       CAST(i * 150 AS BIGINT) AS chunk_start,
       substr(text, i * 150 + 1, 200) AS chunk_text
FROM documents,
     unnest(range(0, greatest(CAST(ceil((length(text) - 200) / 150.0) AS INT), 0) + 1)) t(i)
"""


def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids + cohort stats — the vector
    aggregation behind IVF training, cluster monitoring, and class
    prototypes. One posexplode + one (label, dim) hash aggregate (a
    single narrow shuffle; vectors never hit the driver). Sums are
    quantized to integers (floor(x*2^20)) so the aggregation is
    associative and bit-identical in any engine or partitioning — the
    `ann_ivf` centroid discipline. Emits the long format
    (label, n_vectors, dim, value) — one row per centroid component —
    which every result harness can sort/hash without list-valued
    cells; `embedding_label_centroid_vectors` reassembles the
    array<double> shape for in-process consumers."""
    q = 1 << 20
    agg = _label_dim_component_sums(spark, sf_dir)
    return agg.select(
        "label",
        F.col("n").alias("n_vectors"),
        "dim",
        F.round(F.col("s") / F.col("n") / q, 6).alias("value"),
    )


def _label_dim_component_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized per-(label, dim) component sums — shared by the long
    and array-shaped centroid renderings."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = 1 << 20
    comp = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x")
    )
    return comp.groupBy("label", "dim").agg(
        F.sum(F.floor(F.col("x") * q).cast("long")).alias("s"),
        F.count("*").alias("n"),
    )


def embedding_label_centroid_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-shaped rendering of `embedding_label_centroids` —
    (label, n_vectors, centroid array<double>) with components
    reassembled in dimension order. Library function (not registered:
    top-level array columns are not driver-hashable; the long format
    carries the certification)."""
    q = 1 << 20
    agg = _label_dim_component_sums(spark, sf_dir)
    return (
        agg.groupBy("label")
        .agg(
            F.first("n").alias("n_vectors"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "s"))),
                lambda t: F.round(t["s"] / F.col("n_vectors") / q, 6),
            ).alias("centroid"),
        )
        .select("label", "n_vectors", "centroid")
    )


_CENTROID_SQL = """
WITH comp AS (
  SELECT label, i - 1 AS dim, CAST(floor(embedding[i] * 1048576) AS BIGINT) AS s
  FROM embeddings, unnest(range(1, len(embedding) + 1)) t(i)
)
SELECT label, count(*) AS n_vectors, dim,
       round(sum(s) / count(*) / 1048576.0, 6) AS value
FROM comp GROUP BY label, dim
"""


register("chunk_documents_overlap", chunk_documents_overlap, _CHUNK_SQL)
register("embedding_label_centroids", embedding_label_centroids, _CENTROID_SQL)


def ann_recall_ivf_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality as a first-class, oracle-checked NUMBER: per-query
    recall@5 of the IVF index against the exact brute-force neighbors,
    plus the corpus-wide mean. Composes the two registered operators
    (both deterministic), so the driver record certifies not just that
    the index runs but how good it is. The join is per-query top-5
    against top-5 — trivially small at any corpus size (output is one
    row per query plus one summary row)."""
    return _recall_at_5(spark, sf_dir, sim.knn_bruteforce, sim.knn_ivf)


_ANN_RECALL_SQL = f"""
WITH exact AS ({_ANN_BF_SQL}),
approx AS ({_ivf_sql()}),
per_q AS (
  SELECT e.q_id,
         round(count(a.n_id) / 5.0, 6) AS recall_at_5
  FROM exact e
  LEFT JOIN approx a ON a.q_id = e.q_id AND a.n_id = e.n_id
  GROUP BY e.q_id
)
SELECT q_id, recall_at_5 FROM per_q
UNION ALL
SELECT CAST(-1 AS BIGINT), round(avg(recall_at_5), 6) FROM per_q
"""

register("ann_recall_ivf_vs_exact", ann_recall_ivf_vs_exact, _ANN_RECALL_SQL)


def ann_recall_lsh_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 certification for the sign-LSH index (`ann_lsh`),
    mirroring `ann_recall_ivf_vs_exact`: per-query recall against the
    exact brute-force neighbors plus a corpus-wide mean row (q_id=-1).
    Certifies the OR-amplified multi-table LSH as a quality NUMBER, not
    just a runnable plan. Join is top-5 vs top-5 per query — trivially
    small at any corpus size."""
    return _recall_at_5(spark, sf_dir, sim.knn_bruteforce, sim.knn_lsh)


_ANN_RECALL_LSH_SQL = f"""
WITH exact AS ({_ANN_BF_SQL}),
approx AS ({_ANN_LSH_SQL}),
per_q AS (
  SELECT e.q_id,
         round(count(a.n_id) / 5.0, 6) AS recall_at_5
  FROM exact e
  LEFT JOIN approx a ON a.q_id = e.q_id AND a.n_id = e.n_id
  GROUP BY e.q_id
)
SELECT q_id, recall_at_5 FROM per_q
UNION ALL
SELECT CAST(-1 AS BIGINT), round(avg(recall_at_5), 6) FROM per_q
"""

register("ann_recall_lsh_vs_exact", ann_recall_lsh_vs_exact, _ANN_RECALL_LSH_SQL)


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic relevance/keyword
    extraction primitive over the corpus. One token explode, a
    (doc, term) count, a broadcast term-document-frequency join, and a
    per-doc window — every shuffle is on a key, nothing quadratic.
    Determinism across engines: score = tf · ln((N+1)/(df+1)) is a pure
    function of the integer pair (tf, df) — equal pairs give bit-equal
    scores (ties break on term), distinct pairs differ by far more than
    any ulp-level ln() disagreement."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        # No broadcast hint on the df table: a bounded vocabulary
        # broadcasts via AQE's runtime size check anyway, while an open
        # web-scale vocabulary (10^8+ terms) must shuffle on `term` —
        # the key both sides already hash on.
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf") * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", F.round("score", 6).alias("score"), "rank")
    )


_TFIDF_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df, round(score, 6) AS score, rank
FROM ranked WHERE rank <= 3
"""


register("tfidf_top_terms", tfidf_top_terms, _TFIDF_SQL)


# BM25 keyword search: fixed query terms + standard constants. The
# score is a FIXED three-term expression (not a float aggregation), so
# the summation order is pinned and both engines evaluate the identical
# expression tree — the cosine-fold discipline applied to ranking.
BM25_QUERY = ("spark", "hash", "join")
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents for a keyword query under BM25 — the lexical
    retrieval baseline next to the ANN vector path (hybrid search =
    both). Corpus stats (per-term document frequencies, mean doc
    length, N) reduce to ONE 1-row aggregate broadcast against the
    per-doc term counts: a single corpus scan + a TakeOrderedAndProject
    tail, no shuffle of the corpus at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tx.tokens(F.col("text")).alias("toks"))

    def tf_count(word: str) -> F.Column:
        # One-parameter lambda: a second parameter would make PySpark
        # pass the element INDEX as the extra argument.
        return F.size(F.filter(F.col("toks"), lambda t: t == F.lit(word)))

    per_doc = toks.select(
        "doc_id",
        F.size("toks").alias("dl"),
        *[tf_count(w).alias(f"tf{i}") for i, w in enumerate(BM25_QUERY)],
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(BM25_QUERY))
        ],
    )

    def contrib(i: int) -> F.Column:
        tf, df_ = F.col(f"tf{i}"), F.col(f"df{i}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - df_ + F.lit(0.5)) / (df_ + F.lit(0.5))
        )
        norm = tf + F.lit(BM25_K1) * (
            F.lit(1.0) - F.lit(BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
        )
        return idf * tf * F.lit(BM25_K1 + 1.0) / norm

    scored = per_doc.crossJoin(F.broadcast(stats)).withColumn(
        "score", contrib(0) + contrib(1) + contrib(2)
    )
    return (
        scored.filter(F.col("score") > 0)
        .select("doc_id", "tf0", "tf1", "tf2", "dl", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


def _bm25_sql() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(toks, s -> s = '{w}')) AS tf{i}"
        for i, w in enumerate(BM25_QUERY)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(BM25_QUERY))
    )

    def contrib(i: int) -> str:
        idf = f"ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))"
        norm = f"(tf{i} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl))"
        return f"({idf} * tf{i} * {BM25_K1 + 1.0} / {norm})"

    score = " + ".join(contrib(i) for i in range(len(BM25_QUERY)))
    return f"""
WITH per_doc AS (
  SELECT doc_id, len(toks) AS dl, {tf_cols}
  FROM (SELECT *, {_TOKENS} AS toks FROM documents)
),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl, {df_cols} FROM per_doc),
scored AS (
  SELECT doc_id, tf0, tf1, tf2, dl, {score} AS score
  FROM per_doc CROSS JOIN stats
)
SELECT doc_id, tf0, tf1, tf2, dl, round(score, 6) AS score
FROM scored WHERE score > 0
ORDER BY score DESC, doc_id LIMIT 20
"""


register("bm25_search", bm25_search, _bm25_sql())


def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document shingle novelty — what fraction of a doc's 3-gram
    shingles appear in NO other document. The contamination/boilerplate
    spectrum in one number: boilerplate-heavy docs score near 0, unique
    content near 1 (the aggregate view of what the dedup family detects
    pairwise). Reuses the relational shingle path (one narrow shuffle);
    the global shingle-frequency join is on the hash key. All-integer
    arithmetic until one final exact ratio — engine-portable with no
    float-order concerns."""
    docs = load_table(spark, sf_dir, "documents")
    sh = tx.shingle_hash_rows(docs.select("doc_id", "text"))
    freq = sh.groupBy("h").agg(F.count("*").alias("n_docs_with"))
    return (
        sh.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("n_docs_with") == 1, 1).otherwise(0)).alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_unique",
            F.round(F.col("n_unique") / F.col("n_shingles"), 6).alias("novelty"),
        )
    )


_NOVELTY_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest({_shingle_hashes_sql()}) AS h
  FROM (SELECT *, {_TOKENS} AS toks FROM documents)
  WHERE len({_shingles_sql('toks')}) > 0
),
freq AS (SELECT h, count(*) AS n_docs_with FROM sh GROUP BY h)
SELECT sh.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN freq.n_docs_with = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       round(sum(CASE WHEN freq.n_docs_with = 1 THEN 1 ELSE 0 END) / count(*), 6) AS novelty
FROM sh JOIN freq USING (h)
GROUP BY sh.doc_id
"""


register("doc_ngram_novelty", doc_ngram_novelty, _NOVELTY_SQL)


BOILER_CHUNK = 4  # tokens per non-overlapping segment
BOILER_MIN_DOCS = 3  # a segment in ≥ this many distinct docs is boilerplate


def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate REMOVAL (the CCNet/RefinedWeb line-
    dedup step at token-segment granularity, since this corpus has no
    newlines): a doc's non-overlapping 4-token segments that appear
    verbatim in ≥3 distinct documents (nav menus, cookie banners,
    licence footers at web scale) are stripped, and the doc is
    reassembled from the surviving segments in order. The actionable
    complement to `doc_ngram_novelty`'s score: output is (doc_id,
    n_chunks, n_boilerplate, boilerplate_ratio, cleaned_md5) — the md5
    value-checks the REWRITE itself, not just the counts
    (`operators/text.py:boilerplate_strip`)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.boilerplate_strip(docs, BOILER_CHUNK, BOILER_MIN_DOCS)


_BOILER_SQL = f"""
WITH d AS (SELECT doc_id, {_TOKENS} AS tks FROM documents),
toks AS (
  SELECT doc_id, t.i - 1 AS pos, tks[t.i] AS tok
  FROM d, unnest(range(1, len(tks) + 1)) AS t(i)
),
chunks AS (
  SELECT doc_id, CAST(pos // {BOILER_CHUNK} AS INT) AS chunk,
         string_agg(tok, ' ' ORDER BY pos) AS ctext
  FROM toks GROUP BY doc_id, pos // {BOILER_CHUNK}
),
freq AS (SELECT ctext, count(DISTINCT doc_id) AS nd FROM chunks GROUP BY ctext)
SELECT c.doc_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN f.nd >= {BOILER_MIN_DOCS} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boilerplate,
       round(sum(CASE WHEN f.nd >= {BOILER_MIN_DOCS} THEN 1 ELSE 0 END) / count(*), 6)
         AS boilerplate_ratio,
       md5(coalesce(string_agg(c.ctext, ' ' ORDER BY c.chunk)
                    FILTER (WHERE f.nd < {BOILER_MIN_DOCS}), '')) AS cleaned_md5
FROM chunks c JOIN freq f USING (ctext)
GROUP BY c.doc_id
"""


register("text_boilerplate_strip", text_boilerplate_strip, _BOILER_SQL)


# Reciprocal-rank-fusion constant (the standard 60 from the RRF paper).
RRF_K = 60
HYBRID_TOPK = 10


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the BM25 lexical ranking with the exact
    vector ranking (neighbors of query vector 0 — doc_id and vec_id
    are the same id space) by reciprocal rank fusion:
    rrf = Σ 1/(K + rank), absent-from-a-list contributes 0. The modern
    two-tower search composition, as a relational plan: two top-20
    rankings (each already scale-safe), one full-outer join on doc_id,
    a fixed-order two-term sum (no float-aggregation nondeterminism),
    top-10. Integer ranks make the fused score an exact rational."""
    from pyspark.sql.window import Window

    lex = bm25_search(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
        .alias("lex_rank"),
    )
    e = load_table(spark, sf_dir, "embeddings")
    q0 = e.filter(F.col("vec_id") == 0)
    vec = sim.knn_bruteforce(e, q0, k=20).select(
        F.col("n_id").alias("doc_id"), F.col("rank").alias("ann_rank")
    )
    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "ann_rank",
        (
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("ann_rank")), F.lit(0.0))
        ).alias("rrf"),
    )
    return (
        fused.select("doc_id", "lex_rank", "ann_rank", F.round("rrf", 6).alias("rrf"))
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(HYBRID_TOPK)
    )


_HYBRID_SQL = f"""
WITH lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
  FROM ({_bm25_sql()})
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
q0 AS (SELECT vec FROM e WHERE vec_id = 0),
vec_ranked AS (
  SELECT e.vec_id AS doc_id,
         row_number() OVER (ORDER BY {_cosine_sql('q0.vec', 'e.vec')} DESC, e.vec_id)
           AS ann_rank
  FROM e CROSS JOIN q0 WHERE e.vec_id <> 0
),
vec AS (SELECT doc_id, ann_rank FROM vec_ranked WHERE ann_rank <= 20),
fused AS (
  SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id, lex_rank, ann_rank,
         coalesce(1.0 / ({RRF_K} + lex_rank), 0.0)
           + coalesce(1.0 / ({RRF_K} + ann_rank), 0.0) AS rrf
  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
)
SELECT doc_id, lex_rank, ann_rank, round(rrf, 6) AS rrf
FROM fused ORDER BY rrf DESC, doc_id LIMIT {HYBRID_TOPK}
"""


register("hybrid_search_rrf", hybrid_search_rrf, _HYBRID_SQL)


# int8 symmetric quantization: scale = max|x|, q = floor(x/scale·127).
# Error terms are floor-quantized to integers (·10^12) before summing,
# so the per-vector SSE is an associative integer aggregate —
# bit-identical in any engine or partitioning.
QUANT_ERR_SCALE = 1_000_000_000_000


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization report — the 4× storage compression
    a 100 TB embedding corpus runs on, with its reconstruction error as
    an oracle-checked NUMBER: (vec_id, scale, n_dims, sse_q, mse).
    Pure array expressions (codegen'd, no shuffle at all): quantize,
    reconstruct, square the error, integer-quantize each term, fold.
    Zero vectors quantize to scale 0 with zero error by convention."""
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding").cast("array<double>")
    with_scale = e.select(
        "vec_id",
        emb.alias("vec"),
        F.array_max(F.transform(emb, lambda x: F.abs(x))).alias("scale"),
    )

    def err(x: F.Column) -> F.Column:
        recon = F.floor(x / F.col("scale") * 127) * F.col("scale") / 127
        return F.when(F.col("scale") == 0, F.lit(0.0)).otherwise(x - recon)

    err2q = F.transform(
        F.col("vec"), lambda x: F.floor(err(x) * err(x) * QUANT_ERR_SCALE).cast("long")
    )
    out = with_scale.select(
        "vec_id",
        "scale",
        F.size("vec").alias("n_dims"),
        F.aggregate(err2q, F.lit(0).cast("long"), lambda a, b: a + b).alias("sse_q"),
    )
    return out.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        "n_dims",
        "sse_q",
        F.round(F.col("sse_q") / F.lit(float(QUANT_ERR_SCALE)) / F.col("n_dims"), 9).alias("mse"),
    )


_QUANT_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS scale
  FROM embeddings
),
folded AS (
  SELECT vec_id, scale, len(vec) AS n_dims,
         list_reduce(
           list_transform(vec, x -> CAST(floor(
             (CASE WHEN scale = 0 THEN 0.0
                   ELSE x - floor(x / scale * 127) * scale / 127 END)
             * (CASE WHEN scale = 0 THEN 0.0
                     ELSE x - floor(x / scale * 127) * scale / 127 END)
             * {QUANT_ERR_SCALE}) AS BIGINT)),
           (a, b) -> a + b) AS sse_q
  FROM e
)
SELECT vec_id, round(scale, 6) AS scale, n_dims, sse_q,
       round(sse_q / {float(QUANT_ERR_SCALE)} / n_dims, 9) AS mse
FROM folded
"""


register("embedding_quantize_int8", embedding_quantize_int8, _QUANT_SQL)


def minhash_estimate_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash quality as oracle-checked NUMBERS (the dedup analogue of
    the ANN recall certifications): for every LSH candidate pair, the
    12-permutation Jaccard ESTIMATE (matching signature positions / 12)
    next to the exact shingle-set Jaccard and their absolute error.
    Certifies that the sketch the 100 TB dedup path trusts actually
    tracks the quantity it estimates. Candidates come through the band
    equi-join (never all pairs); the position-match count is an integer
    fold, and est/jaccard are exact rationals — fully deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs)
    bands = dd.band_keys(sigs)
    left, right = bands.alias("x"), bands.alias("y")
    cands = (
        left.join(
            right,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"), F.col("sig").alias("sig_b"))
    n_match = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda p, q: F.when(p == q, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    est = n_match / F.lit(float(len(dd.MINHASH_PERMS)))
    jac = inter.cast("double") / union
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_match.alias("n_match"),
            F.round(est, 6).alias("est_jaccard"),
            F.round(jac, 6).alias("jaccard"),
            F.round(F.abs(est - jac), 6).alias("abs_err"),
        )
    )


def _minhash_quality_sql() -> str:
    perms = ", ".join(
        f"list_min(list_transform(sh, h -> ({a} * (h % {dd.MINHASH_P}) + {b}) % {dd.MINHASH_P}))"
        for a, b in dd.MINHASH_PERMS
    )
    band_rows = []
    for band in range(dd.MINHASH_BANDS):
        concat = " || ',' || ".join(
            f"CAST(sig[{band * dd.MINHASH_ROWS + r + 1}] AS VARCHAR)"
            for r in range(dd.MINHASH_ROWS)
        )
        band_rows.append(
            f"SELECT doc_id, {band} AS band, "
            f"{_H64.format(x=concat)} AS band_key FROM sigs"
        )
    bands_union = " UNION ALL ".join(band_rows)
    n_perms = len(dd.MINHASH_PERMS)
    n_match = (
        "list_reduce([CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END "
        f"for i in range(1, {n_perms + 1})], (p, q) -> p + q)"
    )
    jac = (
        "len(list_intersect(a.sh, b.sh)) "
        "/ (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))"
    )
    return f"""
WITH docs_sh AS (
  SELECT doc_id, {_shingle_hashes_sql()} AS sh
  FROM (SELECT *, {_TOKENS} AS toks FROM documents)
),
sigs AS (
  SELECT doc_id, sh, [{perms}] AS sig FROM docs_sh WHERE len(sh) > 0
),
bands AS ({bands_union}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b,
       {n_match} AS n_match,
       round({n_match} / {float(n_perms)}, 6) AS est_jaccard,
       round({jac}, 6) AS jaccard,
       round(abs({n_match} / {float(n_perms)} - {jac}), 6) AS abs_err
FROM cand JOIN sigs a ON cand.doc_a = a.doc_id JOIN sigs b ON cand.doc_b = b.doc_id
"""


register("minhash_estimate_quality", minhash_estimate_quality, _minhash_quality_sql())


def multimodal_real_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode, oracle-certified end-to-end: every doc gets a
    genuine container blob (even ids → binary PPM images, odd ids →
    RIFF/WAV-PCM16 audio — actual formats, pure-numpy codecs in
    `operators/media_codec.py`), and the decode stage parses the BYTES
    (header walk, chunk alignment, raster/sample extraction) to emit
    per-modality features. Because the synthesized content follows
    closed-form rules, the DuckDB oracle computes the expected
    features INDEPENDENTLY from doc_id arithmetic — a hash-match means
    encoder, container layout, and decoder all agree with the spec.
    This replaces the round-4 `real_decode` stub: NotImplementedError
    now marks only formats that genuinely need external codecs."""
    docs = load_table(spark, sf_dir, "documents")
    return mm.decode_media_meta(mm.synthesize_media(docs))


_REAL_MM_SQL = """
WITH img_px AS (
  SELECT doc_id, CAST(sum((doc_id % 256 + i) % 256) AS BIGINT) AS pix_sum
  FROM (SELECT doc_id, unnest(range(0, (8 + doc_id % 16) * (6 + doc_id % 12) * 3)) AS i
        FROM documents WHERE doc_id % 2 = 0)
  GROUP BY doc_id
),
img AS (
  SELECT d.doc_id,
         'image/x-portable-pixmap' AS media_type,
         CAST(length('P6' || chr(10) || CAST(8 + d.doc_id % 16 AS VARCHAR) || ' '
                     || CAST(6 + d.doc_id % 12 AS VARCHAR) || chr(10) || '255' || chr(10))
              + (8 + d.doc_id % 16) * (6 + d.doc_id % 12) * 3 AS BIGINT) AS n_bytes,
         CAST(8 + d.doc_id % 16 AS INT) AS width,
         CAST(6 + d.doc_id % 12 AS INT) AS height,
         CAST((8 + d.doc_id % 16) * (6 + d.doc_id % 12) * 3 AS BIGINT) AS n_pixel_bytes,
         p.pix_sum,
         CAST(NULL AS INT) AS n_samples,
         CAST(NULL AS INT) AS sample_rate,
         CAST(NULL AS BIGINT) AS sum_sq
  FROM documents d JOIN img_px p USING (doc_id)
),
aud_sq AS (
  SELECT doc_id,
         CAST(sum(((doc_id * 31 + i * 7) % 2048 - 1024)
                  * ((doc_id * 31 + i * 7) % 2048 - 1024)) AS BIGINT) AS sum_sq
  FROM (SELECT doc_id, unnest(range(0, 100 + doc_id % 400)) AS i
        FROM documents WHERE doc_id % 2 = 1)
  GROUP BY doc_id
),
aud AS (
  SELECT d.doc_id,
         'audio/wav' AS media_type,
         CAST(44 + 2 * (100 + d.doc_id % 400) AS BIGINT) AS n_bytes,
         CAST(NULL AS INT) AS width,
         CAST(NULL AS INT) AS height,
         CAST(NULL AS BIGINT) AS n_pixel_bytes,
         CAST(NULL AS BIGINT) AS pix_sum,
         CAST(100 + d.doc_id % 400 AS INT) AS n_samples,
         CAST(8000 AS INT) AS sample_rate,
         s.sum_sq
  FROM documents d JOIN aud_sq s USING (doc_id)
)
SELECT * FROM img UNION ALL SELECT * FROM aud
"""


register("multimodal_real_roundtrip", multimodal_real_roundtrip, _REAL_MM_SQL)


def image_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash IMAGE near-dedup over the real decoder: every
    doc gets a genuine binary PPM (base pixels keyed by doc_id % 101;
    odd doc_ids carry the 2× nearest-neighbor upscale — a true
    perceptual near-dup with different bytes and dimensions), the
    dHash is computed from the DECODED raster
    (`multimodal.image_dhash` → `media_codec.dhash64`), and pairs come
    from the SimHash pigeonhole banding (`dedup.hamming_band_pairs`) —
    one equi-join, no all-pairs scan. The DuckDB oracle never touches
    bytes: it recomputes every dHash in closed form from doc_id
    arithmetic (including the scale invariance of the upscaled
    variants), so a hash-match certifies encoder, decoder, grayscale,
    grid sampling, bit assembly, and banding end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm.synthesize_image_corpus(docs, repeat=101)
    dh = mm.image_dhash(media)
    return dd.hamming_band_pairs(dh, "dh", max_hamming=3).select(
        "doc_a", "doc_b", "hamming"
    )


def _image_dhash_ctes() -> str:
    """Shared WITH-clause body: closed-form dHash (`dh`) and near-dup
    candidate pairs (`cand`) of the synthetic image corpus. Raster byte
    i of base image sid is (sid*31 + 7i² + 11i) % 256; gray(k) is the
    truncating channel mean; the 2× upscale of odd docs samples the
    SAME base pixels on the fixed 8×9 dHash grid
    (floor((r*2h)/8)//2 == floor((r*h)/8)), so dh depends on sid only."""
    f = "(sid * 31 + 7 * {i} * {i} + 11 * {i}) % 256"
    gray = (
        f"(({f.format(i='(3 * k)')}) + ({f.format(i='(3 * k + 1)')}) "
        f"+ ({f.format(i='(3 * k + 2)')})) // 3"
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, dh, {i} AS band, (dh >> {shift}) & {mask} AS bval FROM dh"
        for i, (shift, mask) in enumerate(dd.SIMHASH_BAND_SHIFTS)
    )
    return f"""
ids AS (SELECT doc_id, doc_id % 101 AS sid FROM documents),
dims AS (SELECT doc_id, sid, 8 + sid % 16 AS w, 6 + sid % 12 AS h FROM ids),
grid AS (
  SELECT d.doc_id, d.sid, r.r, c.c,
         ((r.r * d.h) // 8) * d.w + ((c.c * d.w) // 9) AS k
  FROM dims d, range(0, 8) r(r), range(0, 9) c(c)
),
gray AS (SELECT doc_id, r, c, {gray} AS g FROM grid),
bits AS (
  SELECT g1.doc_id, g1.r * 8 + g1.c AS idx
  FROM gray g1 JOIN gray g2
    ON g1.doc_id = g2.doc_id AND g1.r = g2.r AND g2.c = g1.c + 1
  WHERE g1.c < 8 AND g1.g > g2.g
),
dh AS (
  SELECT i.doc_id,
         CAST(coalesce(sum(CASE WHEN b.idx = 63 THEN -9223372036854775808
                                ELSE (CAST(1 AS BIGINT) << b.idx) END), 0)
              AS BIGINT) AS dh
  FROM ids i LEFT JOIN bits b USING (doc_id)
  GROUP BY i.doc_id
),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         x.dh AS dh_a, y.dh AS dh_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id
)"""


_IMAGE_PHASH_SQL = f"""
WITH {_image_dhash_ctes()}
SELECT doc_a, doc_b, bit_count(xor(dh_a, dh_b)) AS hamming
FROM cand WHERE bit_count(xor(dh_a, dh_b)) <= 3
"""


register("image_phash_near_dup", image_phash_near_dup, _IMAGE_PHASH_SQL)


def image_cross_format_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-CONTAINER perceptual image dedup: the same planted-near-dup
    corpus as `image_phash_near_dup`, but every third doc is encoded as
    BMP instead of PPM — same raster, entirely different bytes, so an
    exact fingerprint can never pair a PPM upload with its BMP
    re-upload. The Spark side therefore exercises BOTH real decoders
    in one pass (`multimodal._decode_image` dispatch); the DuckDB
    oracle is the SAME closed-form dHash SQL — the hash depends only on
    decoded pixels, which is precisely the property being certified:
    identical output for identical content regardless of container."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm.synthesize_image_corpus(docs, repeat=101, mixed_containers=True)
    dh = mm.image_dhash(media)
    return dd.hamming_band_pairs(dh, "dh", max_hamming=3).select(
        "doc_a", "doc_b", "hamming"
    )


register("image_cross_format_near_dup", image_cross_format_near_dup, _IMAGE_PHASH_SQL)


def image_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete image-dedup story composed end-to-end from real
    bytes: decode → dHash → banded hamming pairs → connected components
    → quality-aware canonical selection keeping the HIGHEST-RESOLUTION
    copy per cluster (max decoded raster bytes, tie → min doc_id) —
    what an image-curation pipeline actually ships. Every stage is the
    registered operator it reuses (`image_dhash`, `hamming_band_pairs`,
    `dedup_clusters`, `keep_best_dedup`); the oracle replays the chain
    with a recursive-CTE transitive closure and closed-form raster
    sizes."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = mm.synthesize_image_corpus(docs, repeat=101)
    # ONE synthesize+decode pass (round 14): hash and raster size come
    # from the fused `image_dhash_meta`; the pinned narrow proxy frame
    # (24 B/doc — the guide §8 "decide with small rows" shape) feeds
    # both the pairing and the quality ranking, so the heavy raster
    # work runs once instead of once per consumer.
    feats = pin_result(mm.image_dhash_meta(media))
    pairs = dd.hamming_band_pairs(feats.select("doc_id", "dh"), "dh", 3).select(
        "doc_a", "doc_b"
    )
    quality = feats.select("doc_id", "n_pixel_bytes")
    clusters = dd.dedup_clusters(docs, pairs)
    return dd.keep_best_dedup(quality, clusters, quality_col="n_pixel_bytes")


_IMAGE_KEEP_BEST_SQL = f"""
WITH RECURSIVE {_image_dhash_ctes()},
pairs AS (
  SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(dh_a, dh_b)) <= 3
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach AS (
  SELECT doc_id, doc_id AS label FROM documents
  UNION
  SELECT e.src AS doc_id, r.label FROM edges e JOIN reach r ON e.dst = r.doc_id
),
labels AS (SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY cluster_id),
quality AS (
  SELECT doc_id,
         CAST((CASE WHEN doc_id % 2 = 1 THEN 4 ELSE 1 END)
              * (8 + sid % 16) * (6 + sid % 12) * 3 AS BIGINT) AS n_pixel_bytes
  FROM ids
),
ranked AS (
  SELECT l.doc_id, l.cluster_id, s.cluster_size, q.n_pixel_bytes,
         row_number() OVER (PARTITION BY l.cluster_id
                            ORDER BY q.n_pixel_bytes DESC, l.doc_id) AS rk
  FROM labels l JOIN sizes s USING (cluster_id) JOIN quality q USING (doc_id)
),
keepers AS (SELECT cluster_id, doc_id AS keep_id FROM ranked WHERE rk = 1)
SELECT r.doc_id, r.cluster_id, r.cluster_size, k.keep_id,
       r.doc_id = k.keep_id AS keep
FROM ranked r JOIN keepers k USING (cluster_id)
"""


register("image_dedup_keep_best", image_dedup_keep_best, _IMAGE_KEEP_BEST_SQL)


def audio_ahash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash AUDIO near-dedup over the real WAV decoder —
    closing the multimodal dedup loop (text: MinHash/SimHash, image:
    dHash, audio: this): every doc gets a genuine RIFF/PCM16 blob
    (base signal keyed by doc_id % 101; odd doc_ids carry the
    VOLUME-DOUBLED copy — different bytes, same energy profile), the
    65-window energy fingerprint is computed from the DECODED samples
    (`multimodal.audio_ahash` → `media_codec.audio_ahash64`), and
    pairs come from the same pigeonhole banding as SimHash/dHash. The
    DuckDB oracle recomputes every fingerprint in closed form from
    doc_id arithmetic — byte-free certification of encoder, RIFF chunk
    walk, sample extraction, windowing, and banding."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm.synthesize_audio_corpus(docs, repeat=101)
    return dd.hamming_band_pairs(mm.audio_ahash(media), "ah", 3).select(
        "doc_a", "doc_b", "hamming"
    )


def _audio_ahash_sql() -> str:
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, ah, {i} AS band, (ah >> {shift}) & {mask} AS bval FROM ah"
        for i, (shift, mask) in enumerate(dd.SIMHASH_BAND_SHIFTS)
    )
    return f"""
WITH ids AS (SELECT doc_id, doc_id % 101 AS sid FROM documents),
lens AS (SELECT doc_id, sid, 100 + sid % 400 AS n FROM ids),
samp AS (SELECT doc_id, sid, n, unnest(range(0, n)) AS i FROM lens),
vals AS (
  SELECT doc_id, (i * 65) // n AS w,
         (sid * 31 + 7 * i * i + 11 * i) % 2048 - 1024 AS v
  FROM samp
),
energy AS (SELECT doc_id, w, CAST(sum(v * v) AS BIGINT) AS e FROM vals GROUP BY doc_id, w),
bits AS (
  SELECT a.doc_id, a.w AS idx
  FROM energy a JOIN energy b ON a.doc_id = b.doc_id AND b.w = a.w + 1
  WHERE a.e > b.e
),
ah AS (
  SELECT i.doc_id,
         CAST(coalesce(sum(CASE WHEN b.idx = 63 THEN -9223372036854775808
                                ELSE (CAST(1 AS BIGINT) << b.idx) END), 0)
              AS BIGINT) AS ah
  FROM ids i LEFT JOIN bits b USING (doc_id)
  GROUP BY i.doc_id
),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         x.ah AS ah_a, y.ah AS ah_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(ah_a, ah_b)) AS hamming
FROM cand WHERE bit_count(xor(ah_a, ah_b)) <= 3
"""


register("audio_ahash_near_dup", audio_ahash_near_dup, _audio_ahash_sql())


def mixture_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture construction — the step that turns a raw
    corpus into a training mix: spend half the corpus's estimated
    tokens, split equally across sources, by deriving a per-source
    Bernoulli keep-rate from the corpus's own per-source token counts
    (sources smaller than their share are kept whole; larger ones are
    downsampled to fit). Unlike `sample_weighted_sources` (rates given
    a priori), the rates here are *computed from the data*, so the
    operator is two passes: a per-source token aggregate (tiny — one
    row per source), then a broadcast of those rates back onto the
    corpus for the deterministic md5 draw.

    Everything that decides a draw is integer arithmetic (token sums
    are bigint, rates are integer parts-per-10000 via DIV), so the
    sample is bit-identical in any engine, partitioning, or retry —
    no IEEE rounding can flip a row near the threshold.

    At 100 TB: one scan + low-cardinality aggregate (map-side
    partials), a broadcast join of the per-source rate table (a few
    rows), one more scan-filter-aggregate. No fact-table shuffle
    beyond the groupBy on `source`.

    Emits the audit table a mixture run should log: (source, n_docs,
    est_tokens, keep_rate, kept_docs, kept_tokens)."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "doc_id", "source", tx.token_estimate_bpe(F.col("text")).alias("toks")
    )
    per_src = per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("toks").alias("est_tokens")
    )
    totals = per_src.agg(
        F.sum("est_tokens").alias("total"), F.count("*").alias("n_sources")
    )
    rates = (
        per_src.crossJoin(F.broadcast(totals))
        .withColumn(
            "rate_ppm",
            F.least(
                F.lit(10000).cast("long"),
                F.expr("(((total DIV 2) DIV n_sources) * 10000) DIV est_tokens"),
            ),
        )
        .select("source", "n_docs", "est_tokens", "rate_ppm")
    )
    draw = F.pmod(
        md5_hash64(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
        F.lit(10000),
    )
    kept = (
        per_doc.join(F.broadcast(rates.select("source", "rate_ppm")), "source")
        .filter(draw < F.col("rate_ppm"))
        .groupBy("source")
        .agg(F.count("*").alias("kept_docs"), F.sum("toks").alias("kept_tokens"))
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            "est_tokens",
            F.round(F.col("rate_ppm") / 10000.0, 6).alias("keep_rate"),
            F.coalesce(F.col("kept_docs"), F.lit(0)).alias("kept_docs"),
            F.coalesce(F.col("kept_tokens"), F.lit(0)).alias("kept_tokens"),
        )
    )


_MIXTURE_SQL = f"""
WITH per_doc AS (
  SELECT doc_id, source, CAST(ceil(length(text) / 4.0) AS BIGINT) AS toks
  FROM documents
), per_src AS (
  SELECT source, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS est_tokens
  FROM per_doc GROUP BY source
), tot AS (
  SELECT sum(est_tokens) AS total, count(*) AS n_sources FROM per_src
), rates AS (
  SELECT source, n_docs, est_tokens,
         least(10000, (((total // 2) // n_sources) * 10000) // est_tokens) AS rate_ppm
  FROM per_src, tot
), kept AS (
  SELECT d.source, count(*) AS kept_docs, CAST(sum(d.toks) AS BIGINT) AS kept_tokens
  FROM per_doc d JOIN rates r USING (source)
  WHERE ({_H64.format(x="'mix:' || CAST(doc_id AS VARCHAR)")}) % 10000 < r.rate_ppm
  GROUP BY d.source
)
SELECT r.source, r.n_docs, r.est_tokens,
       round(r.rate_ppm / 10000.0, 6) AS keep_rate,
       coalesce(k.kept_docs, 0) AS kept_docs,
       coalesce(k.kept_tokens, 0) AS kept_tokens
FROM rates r LEFT JOIN kept k USING (source)
"""


register("mixture_token_budget", mixture_token_budget, _MIXTURE_SQL)


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full sample covariance matrix of the embedding corpus in long
    format (i, j, n, cov) — the statistic behind whitening, drift
    monitoring, and PCA. One `mapInPandas` pass accumulates a d×d
    int64 gram partial per partition (vectors never leave their
    partition; the only shuffle is partitions × d² tiny rows), then a
    (i, j) hash aggregate — see `operators/linalg.py` for the 100 TB
    rationale. Quantized-integer sums make the result bit-identical
    across engines and partitionings."""
    return la.covariance_long(load_table(spark, sf_dir, "embeddings")).orderBy("i", "j")


_COV_SQL = """
WITH q AS (
  SELECT vec_id, i - 1 AS dim, CAST(floor(embedding[i] * 1024) AS BIGINT) AS qx
  FROM embeddings, unnest(range(1, len(embedding) + 1)) t(i)
)
SELECT a.dim AS i, b.dim AS j, count(*) AS n,
       round((sum(a.qx * b.qx) / count(*)
              - (sum(a.qx) / count(*)) * (sum(b.qx) / count(*)))
             / 1048576.0, 6) + 0.0 AS cov
FROM q a JOIN q b USING (vec_id)
GROUP BY a.dim, b.dim
ORDER BY i, j
"""


def embedding_pca_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (uncentered, n-normalized) gram
    matrix by 3 renormalized matrix squarings + 8 rounds of
    integer-exact power iteration (≈ a G⁶⁴ power — near-isotropic
    corpora have a tiny spectral gap, and squaring doubles the log-gap
    per step) — every step a join + groupBy on the d²-row gram table,
    so per-step shuffles move kilobytes at ANY corpus scale; only the
    one-pass gram computation touches the data. Renormalization uses
    max|entry| (order-independent) and truncating integer division
    (identical in Spark `DIV` and DuckDB `//`), so the trajectory is
    bit-identical in both engines. `rayleigh` (vs the unsquared Gn)
    converges to the top eigenvalue."""
    g = la.gram_long(load_table(spark, sf_dir, "embeddings"))
    return la.power_iteration_top_eig(g, iters=8).orderBy("dim")


def _pca_sql(iters: int = 8, squarings: int = 3) -> str:
    ctes = ["""
WITH q AS MATERIALIZED (
  SELECT vec_id, i - 1 AS dim, CAST(floor(embedding[i] * 1024) AS BIGINT) AS qx
  FROM embeddings, unnest(range(1, len(embedding) + 1)) t(i)
), g AS MATERIALIZED (
  SELECT a.dim AS i, b.dim AS j, sum(a.qx * b.qx) AS sxy, count(*) AS n
  FROM q a JOIN q b USING (vec_id) GROUP BY a.dim, b.dim
), gn AS MATERIALIZED (
  SELECT i, j, sxy // n AS gn FROM g
), b0 AS MATERIALIZED (
  SELECT i, j, (gn * 1024) // (SELECT max(abs(gn)) FROM gn) AS gn FROM gn
)"""]
    for s in range(1, squarings + 1):
        ctes.append(f""", p{s} AS MATERIALIZED (
  SELECT a.i, b.j, sum(a.gn * b.gn) AS gn
  FROM b{s-1} a JOIN b{s-1} b ON a.j = b.i GROUP BY a.i, b.j
), b{s} AS MATERIALIZED (
  SELECT i, j, (gn * 1024) // (SELECT max(abs(gn)) FROM p{s}) AS gn FROM p{s}
)""")
    bb = f"b{squarings}"
    ctes.append(""", v0 AS MATERIALIZED (
  SELECT i AS dim, CAST(1024 AS BIGINT) AS v FROM gn WHERE i = j
)""")
    for k in range(1, iters + 1):
        ctes.append(f""", m{k} AS MATERIALIZED (
  SELECT bb.i AS dim, sum(bb.gn * v{k-1}.v) AS m
  FROM {bb} bb JOIN v{k-1} ON bb.j = v{k-1}.dim GROUP BY bb.i
), v{k} AS MATERIALIZED (
  SELECT dim, (m * 1024) // (SELECT max(abs(m)) FROM m{k}) AS v FROM m{k}
)""")
    last = iters
    ctes.append(f""", mfin AS MATERIALIZED (
  SELECT gn.i AS dim, sum(gn.gn * v{last}.v) AS m
  FROM gn JOIN v{last} ON gn.j = v{last}.dim GROUP BY gn.i
)
SELECT v{last}.dim, round(v{last}.v / 1024.0, 6) + 0.0 AS component,
       CASE WHEN v{last}.v != 0 THEN round(mfin.m * 1.0 / v{last}.v, 6) + 0.0 END AS rayleigh
FROM v{last} JOIN mfin USING (dim)
ORDER BY dim""")
    return "".join(ctes)


register("embedding_covariance", embedding_covariance, _COV_SQL)
register("embedding_pca_power_iter", embedding_pca_power_iter, _pca_sql())


def mixture_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixing (alpha = 0.5): spend half the
    corpus's tokens with per-source budgets proportional to
    tok_s^alpha — the standard reweighting that up-samples small
    domains relative to proportional sampling (alpha=1 is proportional;
    `mixture_token_budget` is the equal-split limit alpha=0). The
    source weight is floor(sqrt(tok_s)) — IEEE sqrt is correctly
    rounded, so the integer weight is engine-identical — and all later
    arithmetic is integer parts-per-10000 with a FIXED operation order,
    so the per-document Bernoulli draw is bit-identical anywhere. At
    extreme corpus sizes (B·10⁴ approaching int64) a deployment widens
    the ppm arithmetic to DECIMAL(38,0); the shape is unchanged.

    Same scale profile as `mixture_token_budget`: one token aggregate,
    a broadcast rate table, one more scan-filter-aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "doc_id", "source", tx.token_estimate_bpe(F.col("text")).alias("toks")
    )
    per_src = per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("toks").alias("est_tokens")
    ).withColumn("ws", F.floor(F.sqrt(F.col("est_tokens").cast("double"))).cast("long"))
    totals = per_src.agg(
        F.sum("est_tokens").alias("total"), F.sum("ws").alias("w_total")
    )
    rates = (
        per_src.crossJoin(F.broadcast(totals))
        .withColumn(
            "rate_ppm",
            F.least(
                F.lit(10000).cast("long"),
                F.expr("((((total DIV 2) * 10000) DIV w_total) * ws) DIV est_tokens"),
            ),
        )
        .select("source", "n_docs", "est_tokens", "ws", "rate_ppm")
    )
    draw = F.pmod(
        md5_hash64(F.concat(F.lit("temp:"), F.col("doc_id").cast("string"))),
        F.lit(10000),
    )
    kept = (
        per_doc.join(F.broadcast(rates.select("source", "rate_ppm")), "source")
        .filter(draw < F.col("rate_ppm"))
        .groupBy("source")
        .agg(F.count("*").alias("kept_docs"), F.sum("toks").alias("kept_tokens"))
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            "est_tokens",
            F.round(F.col("rate_ppm") / 10000.0, 6).alias("keep_rate"),
            F.coalesce(F.col("kept_docs"), F.lit(0)).alias("kept_docs"),
            F.coalesce(F.col("kept_tokens"), F.lit(0)).alias("kept_tokens"),
        )
    )


_TEMP_MIX_SQL = f"""
WITH per_doc AS (
  SELECT doc_id, source, CAST(ceil(length(text) / 4.0) AS BIGINT) AS toks
  FROM documents
), per_src AS (
  SELECT source, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS est_tokens,
         CAST(floor(sqrt(CAST(sum(toks) AS DOUBLE))) AS BIGINT) AS ws
  FROM per_doc GROUP BY source
), tot AS (
  SELECT sum(est_tokens) AS total, sum(ws) AS w_total FROM per_src
), rates AS (
  SELECT source, n_docs, est_tokens, ws,
         least(10000, ((((total // 2) * 10000) // w_total) * ws) // est_tokens) AS rate_ppm
  FROM per_src, tot
), kept AS (
  SELECT d.source, count(*) AS kept_docs, CAST(sum(d.toks) AS BIGINT) AS kept_tokens
  FROM per_doc d JOIN rates r USING (source)
  WHERE ({_H64.format(x="'temp:' || CAST(doc_id AS VARCHAR)")}) % 10000 < r.rate_ppm
  GROUP BY d.source
)
SELECT r.source, r.n_docs, r.est_tokens,
       round(r.rate_ppm / 10000.0, 6) AS keep_rate,
       coalesce(k.kept_docs, 0) AS kept_docs,
       coalesce(k.kept_tokens, 0) AS kept_tokens
FROM rates r LEFT JOIN kept k USING (source)
"""


register("mixture_temperature_sampling", mixture_temperature_sampling, _TEMP_MIX_SQL)


UNIMAX_MAX_EPOCHS = 4  # per-source repetition cap (UniMax's N)
# Budget = 3.8x the corpus token mass — between 1x (no repetition) and
# the 4x cap, so at every fixture scale SOME sources saturate and some
# water-fill (the pivot logic is exercised, not degenerate).
UNIMAX_BUDGET_NUM, UNIMAX_BUDGET_DEN = 19, 5


def mixture_unimax_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax epoch allocation (Chung et al. 2023, 'UniMax: Fairer and
    More Effective Language Sampling') — the data-constrained mixing
    rule: spread a total training-token budget UNIFORMLY across
    sources, but never repeat any source more than MAX_EPOCHS times.
    Sources too small to absorb the uniform share saturate at their
    cap (n_tokens × MAX_EPOCHS); their unused share water-fills the
    rest. The classic alternative to temperature sampling when the
    corpus, not compute, is the binding constraint.

    Exact-integer closed form (no sequential loop): sources sorted by
    (cap, source); the saturated set is provably a prefix of that
    order — f(i) = cap_i·(n−i+1) + Σ_{j<i}cap_j is non-decreasing, so
    `f(i) ≤ B` is a prefix property — found with one window pass. The
    remaining budget splits as share = R DIV n_unsat with the DIV
    remainder given to the first R mod n_unsat unsaturated sources in
    the same total order, so Σ alloc == min(B, Σ caps) EXACTLY — the
    allocation conserves the budget to the token, reproducibly in both
    engines (verified against a sequential UniMax simulation in
    tests). int64 headroom: cap·n_src ≤ 4·corpus_tokens·|sources| —
    widen to DECIMAL(38,0) past ~10^4 sources × 10^14 tokens.

    Scale: one corpus scan to per-source token masses; everything
    after is |sources| rows (two 1-row broadcasts + one bounded
    window)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.groupBy("source")
        .agg(
            F.sum(F.size(F.split(F.col("text"), r"\s+")))
            .cast("long")
            .alias("n_tokens")
        )
        .withColumn("cap", F.col("n_tokens") * UNIMAX_MAX_EPOCHS)
    )
    tot = per.agg(
        F.count("*").alias("n_src"), F.sum("n_tokens").alias("tot_tokens")
    )
    w = Window.orderBy("cap", "source")
    d = (
        per.crossJoin(F.broadcast(tot))
        .withColumn(
            "budget",
            F.expr(f"(tot_tokens * {UNIMAX_BUDGET_NUM}) DIV {UNIMAX_BUDGET_DEN}"),
        )
        .withColumn("i", F.row_number().over(w).cast("long"))
        .withColumn(
            "pre",
            F.coalesce(
                F.sum("cap").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).cast("long"),
        )
        .withColumn("saturated", F.expr("cap * (n_src - i + 1) + pre <= budget"))
    )
    sat = d.filter("saturated").agg(
        F.count("*").alias("m"),
        F.coalesce(F.sum("cap"), F.lit(0)).alias("sat_caps"),
    )
    alloc = F.when(F.col("saturated"), F.col("cap")).otherwise(
        F.expr("(budget - sat_caps) DIV (n_src - m)")
        + F.when(
            F.expr("(i - m) <= (budget - sat_caps) % (n_src - m)"), F.lit(1)
        ).otherwise(F.lit(0))
    )
    return (
        d.crossJoin(F.broadcast(sat))
        .withColumn("alloc_tokens", alloc.cast("long"))
        .select(
            "source",
            "n_tokens",
            "cap",
            "saturated",
            "alloc_tokens",
            F.expr("(alloc_tokens * 1000) DIV n_tokens").alias("epochs_permille"),
        )
        .orderBy("source")
    )


_UNIMAX_SQL = f"""
WITH per AS (
  SELECT source,
         CAST(sum(len({_TOKENS})) AS BIGINT) AS n_tokens,
         CAST(sum(len({_TOKENS})) AS BIGINT) * {UNIMAX_MAX_EPOCHS} AS cap
  FROM documents GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_src,
         CAST(sum(n_tokens) AS BIGINT) AS tot_tokens
  FROM per
),
d AS (
  SELECT per.*, t.n_src,
         (t.tot_tokens * {UNIMAX_BUDGET_NUM}) // {UNIMAX_BUDGET_DEN} AS budget,
         CAST(row_number() OVER (ORDER BY cap, source) AS BIGINT) AS i,
         CAST(coalesce(sum(cap) OVER (ORDER BY cap, source
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS BIGINT) AS pre
  FROM per CROSS JOIN tot t
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(coalesce(sum(cap), 0) AS BIGINT) AS sat_caps
  FROM d WHERE cap * (n_src - i + 1) + pre <= budget
),
a AS (
  SELECT d.source, d.n_tokens, d.cap,
         cap * (n_src - i + 1) + pre <= budget AS saturated,
         CASE WHEN cap * (n_src - i + 1) + pre <= budget THEN cap
              ELSE ((budget - s.sat_caps) // (n_src - s.m))
                   + CASE WHEN (i - s.m) <= ((budget - s.sat_caps) % (n_src - s.m))
                          THEN 1 ELSE 0 END
         END AS alloc_tokens
  FROM d CROSS JOIN s
)
SELECT source, n_tokens, cap, saturated, alloc_tokens,
       (alloc_tokens * 1000) // n_tokens AS epochs_permille
FROM a
"""

register("mixture_unimax_epochs", mixture_unimax_epochs, _UNIMAX_SQL)


def embedding_top_pc_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector's score along the corpus's top principal direction
    — the projection used for spectral filtering / outlier triage.
    Scale shape: the 64-row eigenvector is folded into ONE array row
    (collect_list inside an aggregate of an already-KB-sized table) and
    broadcast; each vector's score is a `zip_with` + `aggregate` dot
    product computed IN PLACE — no posexplode, no per-vector shuffle,
    zero data movement beyond the 1-row broadcast. Integer quantized
    products (components and eigenvector both ·2¹⁰) keep the score
    bit-identical everywhere."""
    emb = load_table(spark, sf_dir, "embeddings")
    eig = la.power_iteration_vec(la.gram_long(emb), iters=8)
    varr = eig.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "v"))),
            lambda t: t["v"],
        ).alias("v")
    )
    qemb = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * la.Q_COMP).cast("long"),
    )
    dot = F.aggregate(
        F.zip_with(qemb, F.col("v"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        emb.crossJoin(F.broadcast(varr))
        .select(
            "vec_id",
            "label",
            (F.round(dot / float(la.Q_COMP * la.Q_VEC), 6) + F.lit(0.0)).alias(
                "pc1_score"
            ),
        )
    )


def _pc_projection_sql() -> str:
    base = _pca_sql()
    head = base[: base.index("SELECT v8.dim")]
    return head + """, pc AS MATERIALIZED (
  SELECT dim, v FROM v8
)
SELECT e.vec_id, e.label,
       round(sum(CAST(floor(e.embedding[q.dim + 1] * 1024) AS BIGINT) * q.v)
             / 1048576.0, 6) + 0.0 AS pc1_score
FROM embeddings e, pc q
GROUP BY e.vec_id, e.label
"""


register("embedding_top_pc_projection", embedding_top_pc_projection, _pc_projection_sql())


def corpus_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source corpus health dashboard a curation run logs:
    document/token volume, mean quality, exact-duplicate rate, and the
    dominant language with its share — one composite profiling pass.
    Quality scores are floored to integer micro-units BEFORE the
    per-source sum (float sums are order-dependent; integer sums are
    not), duplicate detection is the exact-fingerprint groupBy, and the
    language mode breaks ties lexicographically. Scale shape: one scan
    + three modest shuffles (fingerprint, source, (source, lang)) — no
    joins larger than doc-count, nothing quadratic."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    per_doc = docs.select(
        "doc_id",
        "source",
        tx.token_estimate_bpe(text).alias("toks"),
        F.floor(tx.quality_score(text) * 1_000_000).cast("long").alias("q_micro"),
        tx.doc_fingerprint(text).alias("fp"),
    )
    canon = per_doc.groupBy("fp").agg(F.min("doc_id").alias("canonical_id"))
    flagged = per_doc.join(canon, "fp").withColumn(
        "is_dup", (F.col("doc_id") != F.col("canonical_id")).cast("long")
    )
    per_src = flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("toks").alias("est_tokens"),
        F.sum("q_micro").alias("q_sum"),
        F.sum("is_dup").alias("exact_dup_docs"),
    )
    langc = docs.groupBy("source", "lang").agg(F.count("*").alias("n"))
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("lang"))
    topl = (
        langc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("source", F.col("lang").alias("top_lang"), F.col("n").alias("top_lang_docs"))
    )
    return per_src.join(topl, "source").select(
        "source",
        "n_docs",
        "est_tokens",
        F.round(F.col("est_tokens") / F.col("n_docs"), 2).alias("mean_tokens"),
        F.round(F.col("q_sum") / F.col("n_docs") / 1000000.0, 6).alias("mean_quality"),
        "exact_dup_docs",
        F.round(F.col("exact_dup_docs") / F.col("n_docs"), 6).alias("dup_rate"),
        "top_lang",
        F.round(F.col("top_lang_docs") / F.col("n_docs"), 6).alias("top_lang_share"),
    )


_QUALITY_EXPR = f"""least(1.0, len(toks) / 50.0) * 0.4
             + (1.0 - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))) / length(text)) * 0.3
             + least(1.0, ({_stop_hits_sql('en')} / len(toks)) * 5.0) * 0.3"""

_CORPUS_REPORT_SQL = f"""
WITH per_doc AS (
  SELECT doc_id, source,
         CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_toks,
         CAST(floor(({_QUALITY_EXPR}) * 1000000) AS BIGINT) AS q_micro,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM (SELECT *, {_TOKENS} AS toks FROM documents)
), canon AS (
  SELECT fp, min(doc_id) AS canonical_id FROM per_doc GROUP BY fp
), per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(est_toks) AS BIGINT) AS est_tokens,
         CAST(sum(q_micro) AS BIGINT) AS q_sum,
         CAST(sum(CASE WHEN d.doc_id != c.canonical_id THEN 1 ELSE 0 END) AS BIGINT) AS exact_dup_docs
  FROM per_doc d JOIN canon c USING (fp)
  GROUP BY source
), topl AS (
  SELECT source, lang AS top_lang, count(*) AS top_lang_docs,
         row_number() OVER (PARTITION BY source ORDER BY count(*) DESC, lang) AS rk
  FROM documents GROUP BY source, lang
)
SELECT s.source, s.n_docs, s.est_tokens,
       round(s.est_tokens / s.n_docs, 2) AS mean_tokens,
       round(s.q_sum / s.n_docs / 1000000.0, 6) AS mean_quality,
       s.exact_dup_docs,
       round(s.exact_dup_docs / s.n_docs, 6) AS dup_rate,
       t.top_lang,
       round(t.top_lang_docs / s.n_docs, 6) AS top_lang_share
FROM per_src s JOIN topl t ON s.source = t.source AND t.rk = 1
"""


register("corpus_quality_report", corpus_quality_report, _CORPUS_REPORT_SQL)


def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup canonical selection: each MinHash-LSH
    cluster (the registered `dedup_clusters_minhash` components) keeps
    its HIGHEST-QUALITY member instead of the first-seen doc_id —
    what production dedup actually does (you keep the cleanest copy of
    a template, not whichever crawled first). Quality is the integer
    micro-quantized composite score (`tx.quality_score`), tie-broken by
    doc_id so the choice is total.

    Plan: cluster labeling over the LINEAR banded-LSH candidate pairs
    (since r13 — the all-pairs `ngram_jaccard_pairs` generator it used
    before is quadratic within lang blocks and would dominate at
    100 TB; `dedup_clusters_ngram` remains registered as the exact
    baseline), then one window partitioned by cluster_id — a single
    extra shuffle on the cluster key. The oracle reuses the MinHash
    clusterer's recursive transitive-closure CTEs verbatim and ranks
    inside SQL."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    clusters = dd.dedup_clusters(docs, dd.minhash_lsh_pairs(docs, threshold=0.35))
    scored = docs.select(
        "doc_id",
        F.floor(tx.quality_score(F.col("text")) * 1_000_000).cast("long").alias("q_micro"),
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("q_micro"), F.asc("doc_id"))
    return (
        clusters.join(scored, "doc_id")
        .withColumn("is_kept", F.row_number().over(w) == 1)
        .select("doc_id", "cluster_id", "cluster_size", "q_micro", "is_kept")
    )


_KEEP_BEST_SQL = f"""
WITH RECURSIVE
{_mh_clusters_ctes()},
scored_q AS (
  SELECT doc_id, CAST(floor(({_QUALITY_EXPR}) * 1000000) AS BIGINT) AS q_micro
  FROM (SELECT *, {_TOKENS} AS toks FROM documents)
),
ranked_q AS (
  SELECT l.doc_id, l.cluster_id, s.cluster_size, q.q_micro,
         row_number() OVER (PARTITION BY l.cluster_id
                            ORDER BY q.q_micro DESC, l.doc_id ASC) AS rnk
  FROM labels l JOIN sizes s USING (cluster_id) JOIN scored_q q USING (doc_id)
)
SELECT doc_id, cluster_id, cluster_size, q_micro, rnk = 1 AS is_kept
FROM ranked_q
"""

register("dedup_keep_best_quality", dedup_keep_best_quality, _KEEP_BEST_SQL)


def dedup_cross_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot dedup — the incremental-crawl question: which
    documents of the NEW batch (the top fifth of doc_ids, a
    data-derived split) are novel vs the historical snapshot (the
    rest)? A left-anti-style flag via one equi-join on the 16-byte
    content fingerprint: both sides shuffle once on the digest, no
    driver-side set, no quadratic work — the shape that holds when the
    history is 100 TB and the batch is a day's crawl. Flat
    (doc_id, source, is_novel) output."""
    docs = load_table(spark, sf_dir, "documents")
    cutoff = docs.agg(
        F.expr("(count(*) * 4) DIV 5").cast("long").alias("cutoff")
    )
    fp = docs.crossJoin(F.broadcast(cutoff)).select(
        "doc_id", "source", "cutoff", tx.doc_fingerprint(F.col("text")).alias("fp")
    )
    history_fps = (
        fp.filter(F.col("doc_id") < F.col("cutoff")).select("fp").distinct()
        .withColumn("seen", F.lit(1))
    )
    return (
        fp.filter(F.col("doc_id") >= F.col("cutoff"))
        .join(history_fps, "fp", "left")
        .select(
            "doc_id",
            "source",
            F.col("seen").isNull().alias("is_novel"),
        )
    )


_CROSS_SNAPSHOT_SQL = """
WITH cut AS (
  SELECT (count(*) * 4) // 5 AS cutoff FROM documents
), fp AS (
  SELECT doc_id, source,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
), hist AS (
  SELECT DISTINCT f.fp FROM fp f, cut WHERE f.doc_id < cut.cutoff
)
SELECT f.doc_id, f.source, h.fp IS NULL AS is_novel
FROM fp f
CROSS JOIN cut
LEFT JOIN hist h ON f.fp = h.fp
WHERE f.doc_id >= cut.cutoff
"""


register("dedup_cross_snapshot", dedup_cross_snapshot, _CROSS_SNAPSHOT_SQL)


def dedup_cross_snapshot_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot NEAR-dedup (`operators/dedup.py:
    cross_snapshot_minhash`): the new batch (top fifth of doc_ids) is
    MinHash-banded against the historical corpus (the rest) and
    candidates are verified with exact Jaccard — catching the
    near-duplicate re-crawls (boilerplate tweaks, timestamps) the
    exact-fingerprint `dedup_cross_snapshot` misses. Flat per-batch-doc
    output (doc_id, n_near_dups, max_jaccard, is_novel)."""
    docs = load_table(spark, sf_dir, "documents")
    cutoff = docs.agg(F.expr("(count(*) * 4) DIV 5").cast("long").alias("cutoff"))
    tagged = docs.crossJoin(F.broadcast(cutoff))
    history = tagged.filter(F.col("doc_id") < F.col("cutoff")).select("doc_id", "text")
    batch = tagged.filter(F.col("doc_id") >= F.col("cutoff")).select("doc_id", "text")
    return dd.cross_snapshot_minhash(history, batch, threshold=0.35)


def _cross_snapshot_minhash_sql() -> str:
    perms = ", ".join(
        f"list_min(list_transform(sh, h -> ({a} * (h % {dd.MINHASH_P}) + {b}) % {dd.MINHASH_P}))"
        for a, b in dd.MINHASH_PERMS
    )
    band_rows = []
    for band in range(dd.MINHASH_BANDS):
        concat = " || ',' || ".join(
            f"CAST(sig[{band * dd.MINHASH_ROWS + r + 1}] AS VARCHAR)"
            for r in range(dd.MINHASH_ROWS)
        )
        band_rows.append(
            f"SELECT doc_id, {band} AS band, "
            f"{_H64.format(x=concat)} AS band_key FROM sigs"
        )
    bands_union = " UNION ALL ".join(band_rows)
    return f"""
WITH cut AS (
  SELECT (count(*) * 4) // 5 AS cutoff FROM documents
),
docs_sh AS (
  SELECT doc_id, {_shingle_hashes_sql()} AS sh
  FROM (SELECT *, {_TOKENS} AS toks FROM documents)
),
sigs AS (
  SELECT doc_id, sh, [{perms}] AS sig FROM docs_sh WHERE len(sh) > 0
),
bands AS ({bands_union}),
bb AS (SELECT b.* FROM bands b, cut WHERE b.doc_id >= cut.cutoff),
hb AS (SELECT b.* FROM bands b, cut WHERE b.doc_id < cut.cutoff),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS hist_id
  FROM bb x JOIN hb y ON x.band = y.band AND x.band_key = y.band_key
),
ver AS (
  SELECT cand.doc_id,
         round(len(list_intersect(a.sh, b.sh))
               / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
  FROM cand JOIN sigs a ON cand.doc_id = a.doc_id
            JOIN sigs b ON cand.hist_id = b.doc_id
  WHERE len(list_intersect(a.sh, b.sh))
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.35
),
per AS (
  SELECT doc_id, count(*) AS n_near_dups, max(jaccard) AS max_jaccard
  FROM ver GROUP BY doc_id
)
SELECT s.doc_id,
       coalesce(p.n_near_dups, 0) AS n_near_dups,
       p.max_jaccard,
       p.doc_id IS NULL AS is_novel
FROM sigs s CROSS JOIN cut LEFT JOIN per p ON s.doc_id = p.doc_id
WHERE s.doc_id >= cut.cutoff
"""


register(
    "dedup_cross_snapshot_minhash",
    dedup_cross_snapshot_minhash,
    _cross_snapshot_minhash_sql(),
)


# ---------------------------------------------------------------------------
# Exact-substring (span-level) dedup
# ---------------------------------------------------------------------------
# (_SPAN_TOKENS_Q is defined up with NGRAM_DECONTAM_K — the span-level
# decontamination query registers before this section.)


def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring dedup
    (`operators/dedup.py:exact_substring_spans`): maximal exact shared
    token spans of ≥ K tokens between doc pairs — the partial-overlap
    duplicates doc-level MinHash misses. Overlapping K-token shingle
    hashes (computed inside codegen, 8-byte keys in the exchange) →
    hash equi-join → gaps-and-islands run merge per (pair, diagonal).
    K=20 here, scaled to the fixture's 10-99-token docs (operator
    default 50)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.exact_substring_spans(docs, span_tokens=_SPAN_TOKENS_Q)


def _exact_substring_sql(k: int = _SPAN_TOKENS_Q) -> str:
    h = _H64.format(x=f"array_to_string(toks[i.i : i.i + {k} - 1], ' ')")
    return f"""
WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
sh AS (
  SELECT doc_id, i.i AS pos, {h} AS h
  FROM t, unnest(range(1, len(toks) - {k} + 2)) AS i(i)
  WHERE len(toks) >= {k}
),
m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
         a.pos - b.pos AS diag
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
),
runs AS (
  SELECT *, pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS isl
  FROM m
)
SELECT doc_a, doc_b, min(pos_a) AS a_start, min(pos_a) - diag AS b_start,
       max(pos_a) - min(pos_a) + {k} AS span_len
FROM runs GROUP BY doc_a, doc_b, diag, isl
"""


register("dedup_exact_substring", dedup_exact_substring, _exact_substring_sql())


# ---------------------------------------------------------------------------
# True BPE token counting (merge-table application)
# ---------------------------------------------------------------------------

from query_processing_over_streaming_data_using_flink_spark.operators import bpe as bp  # noqa: E402


def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE BPE token counting (`operators/bpe.py`): the merge table
    applied inside each GPT-2-style pre-tokenizer piece — not the
    piece count, not the chars/4 estimate. The Spark side runs the
    production path (greedy BPE in pure Python over Arrow batches via
    mapInPandas); the oracle replays the equivalent rank-order
    replace-chain rendering in SQL, so a MATCH certifies the Python
    tokenizer itself. Swap `DEFAULT_MERGES` for a trained 50k-merge
    table in production — same algorithm, broadcast the table."""
    docs = load_table(spark, sf_dir, "documents")
    return bp.bpe_token_counts(docs)


_BPE_COUNT = bp.bpe_count_sql("text", _BPE_RE_SQL)

_BPE_TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, {_BPE_RE_SQL})) AS BIGINT) AS n_pieces,
       CAST({_BPE_COUNT} AS BIGINT) AS n_tokens_bpe
FROM documents
"""

register("text_bpe_token_count", text_bpe_token_count, _BPE_TOKEN_COUNT_SQL)


def pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing driven by EXACT BPE token counts (the r6
    verdict's ask: budgets downstream of token counting inherit the
    whitespace estimate's error — this closes it): per-language
    concat-then-chunk with the cumulative offset accumulated over
    `bpe_token_counts` output instead of whitespace counts. Same
    window shape as `pack_training_sequences`; the counts arrive from
    the Arrow-batched tokenizer through one doc_id equi-join."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = bp.bpe_token_counts(docs).select("doc_id", F.col("n_tokens_bpe").alias("n_tokens"))
    toks = docs.select("doc_id", "lang").join(counts, "doc_id")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        toks.withColumn("seq_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .withColumn("seq_id", F.floor(F.col("seq_offset") / 2048))
        .withColumn("seq_offset", (F.col("seq_offset") % 2048).cast("long"))
        .select("doc_id", "lang", "n_tokens", "seq_id", "seq_offset")
    )


_PACK_BPE_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, CAST({_BPE_COUNT} AS BIGINT) AS n_tokens FROM documents
),
c AS (
  SELECT doc_id, lang, n_tokens,
         coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM t
)
SELECT doc_id, lang, n_tokens,
       CAST(floor(cum / 2048) AS BIGINT) AS seq_id,
       CAST(cum % 2048 AS BIGINT) AS seq_offset
FROM c
"""

register("pack_sequences_bpe", pack_sequences_bpe, _PACK_BPE_SQL)


def dedup_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The md5-verified rewrite half of span-level dedup
    (`operators/dedup.py:exact_substring_rewrite`): token positions
    covered by a span shared with a lower doc_id are stripped
    (keep-first-occurrence), and the oracle value-checks the
    reassembled text through its md5 — the `text_boilerplate_strip`
    certification pattern applied to partial-overlap duplicates."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.exact_substring_rewrite(docs, span_tokens=_SPAN_TOKENS_Q)


def _substring_rewrite_sql(k: int = _SPAN_TOKENS_Q) -> str:
    return f"""
WITH spans AS ({_exact_substring_sql(k)}),
covered AS (
  SELECT DISTINCT doc_b AS doc_id, i.i AS pos
  FROM spans, unnest(range(b_start, b_start + span_len)) AS i(i)
),
toks AS (
  SELECT doc_id, t.i AS pos, tk[t.i] AS tok
  FROM (SELECT doc_id, {_TOKENS} AS tk FROM documents),
       unnest(range(1, len(tk) + 1)) AS t(i)
),
totals AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id),
ndup AS (SELECT doc_id, count(*) AS n_dup_tokens FROM covered GROUP BY doc_id),
kept AS (
  SELECT t.doc_id, t.pos, t.tok FROM toks t
  ANTI JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
),
cleaned AS (
  SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY pos)) AS cleaned_md5
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, t.n_tokens,
       coalesce(n.n_dup_tokens, 0) AS n_dup_tokens,
       round(coalesce(n.n_dup_tokens, 0) / t.n_tokens, 6) AS dup_ratio,
       coalesce(c.cleaned_md5, md5('')) AS cleaned_md5
FROM totals t
LEFT JOIN ndup n ON t.doc_id = n.doc_id
LEFT JOIN cleaned c ON t.doc_id = c.doc_id
"""


register("dedup_substring_rewrite", dedup_substring_rewrite, _substring_rewrite_sql())


def dedup_cross_snapshot_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot SPAN-level dedup (`operators/dedup.py:
    cross_snapshot_substring`): the new batch (top fifth of doc_ids)
    shingle-joined against the historical corpus at K=20 tokens —
    flags partial re-publications (shared exact spans) that the
    fingerprint and MinHash cross-snapshot variants miss or can only
    score doc-globally. Flat per-batch-doc output (doc_id,
    n_dup_sources, n_spans, max_span_len, is_novel)."""
    docs = load_table(spark, sf_dir, "documents")
    cutoff = docs.agg(F.expr("(count(*) * 4) DIV 5").cast("long").alias("cutoff"))
    tagged = docs.crossJoin(F.broadcast(cutoff))
    history = tagged.filter(F.col("doc_id") < F.col("cutoff")).select("doc_id", "text")
    batch = tagged.filter(F.col("doc_id") >= F.col("cutoff")).select("doc_id", "text")
    return dd.cross_snapshot_substring(history, batch, span_tokens=_SPAN_TOKENS_Q)


def _cross_snapshot_substring_sql(k: int = _SPAN_TOKENS_Q) -> str:
    h = _H64.format(x=f"array_to_string(toks[i.i : i.i + {k} - 1], ' ')")
    return f"""
WITH cut AS (SELECT (count(*) * 4) // 5 AS cutoff FROM documents),
t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
sh AS (
  SELECT doc_id, i.i AS pos, {h} AS h
  FROM t, unnest(range(1, len(toks) - {k} + 2)) AS i(i)
  WHERE len(toks) >= {k}
),
hist AS (SELECT doc_id AS doc_h, pos AS pos_h, h FROM sh, cut WHERE doc_id < cutoff),
new AS (SELECT doc_id AS doc_b, pos AS pos_b, h FROM sh, cut WHERE doc_id >= cutoff),
m AS (
  SELECT n.doc_b, hi.doc_h, n.pos_b, n.pos_b - hi.pos_h AS diag
  FROM new n JOIN hist hi ON n.h = hi.h
),
runs AS (
  SELECT *, pos_b - row_number() OVER (PARTITION BY doc_b, doc_h, diag ORDER BY pos_b) AS isl
  FROM m
),
spans AS (
  SELECT doc_b, doc_h, max(pos_b) - min(pos_b) + {k} AS span_len
  FROM runs GROUP BY doc_b, doc_h, diag, isl
),
per_doc AS (
  SELECT doc_b, count(DISTINCT doc_h) AS n_dup_sources, count(*) AS n_spans,
         max(span_len) AS max_span_len
  FROM spans GROUP BY doc_b
)
SELECT d.doc_id,
       coalesce(p.n_dup_sources, 0) AS n_dup_sources,
       coalesce(p.n_spans, 0) AS n_spans,
       coalesce(p.max_span_len, 0) AS max_span_len,
       p.n_dup_sources IS NULL AS is_novel
FROM (SELECT doc_id FROM documents, cut WHERE doc_id >= cutoff) d
LEFT JOIN per_doc p ON d.doc_id = p.doc_b
"""


register(
    "dedup_cross_snapshot_substring",
    dedup_cross_snapshot_substring,
    _cross_snapshot_substring_sql(),
)


def mixture_bpe_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mixture_token_budget` with the per-doc token mass measured by
    the TRUE BPE tokenizer (`operators/bpe.py`) instead of the chars/4
    estimate — the budget arithmetic downstream (per-source keep-rates
    in integer parts-per-10000, deterministic md5 draws) is unchanged,
    so the only delta is that the mixture now spends a budget of REAL
    tokens. Same plan shape plus the one Arrow-batched tokenizer pass;
    the oracle replays the counts through the replace-chain rendering
    and the identical rate/draw arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    # spread=False: this plan re-evaluates the count subtree under the
    # rate join, where the fanout exchange measured as a net loss
    # (1.67 -> 2.14 s interleaved A/B) — unlike every standalone
    # tokenizer query, which gains ~2x from it.
    counts = bp.bpe_token_counts(docs, spread=False).select(
        "doc_id", F.col("n_tokens_bpe").alias("toks")
    )
    per_doc = docs.select("doc_id", "source").join(counts, "doc_id")
    per_src = per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("toks").alias("est_tokens")
    )
    totals = per_src.agg(
        F.sum("est_tokens").alias("total"), F.count("*").alias("n_sources")
    )
    rates = (
        per_src.crossJoin(F.broadcast(totals))
        .withColumn(
            "rate_ppm",
            F.least(
                F.lit(10000).cast("long"),
                F.expr("(((total DIV 2) DIV n_sources) * 10000) DIV est_tokens"),
            ),
        )
        .select("source", "n_docs", "est_tokens", "rate_ppm")
    )
    draw = F.pmod(
        md5_hash64(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
        F.lit(10000),
    )
    kept = (
        per_doc.join(F.broadcast(rates.select("source", "rate_ppm")), "source")
        .filter(draw < F.col("rate_ppm"))
        .groupBy("source")
        .agg(F.count("*").alias("kept_docs"), F.sum("toks").alias("kept_tokens"))
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            "est_tokens",
            F.round(F.col("rate_ppm") / 10000.0, 6).alias("keep_rate"),
            F.coalesce(F.col("kept_docs"), F.lit(0)).alias("kept_docs"),
            F.coalesce(F.col("kept_tokens"), F.lit(0)).alias("kept_tokens"),
        )
    )


_MIXTURE_BPE_SQL = f"""
WITH per_doc AS (
  SELECT doc_id, source, CAST({_BPE_COUNT} AS BIGINT) AS toks
  FROM documents
), per_src AS (
  SELECT source, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS est_tokens
  FROM per_doc GROUP BY source
), tot AS (
  SELECT sum(est_tokens) AS total, count(*) AS n_sources FROM per_src
), rates AS (
  SELECT source, n_docs, est_tokens,
         least(10000, (((total // 2) // n_sources) * 10000) // est_tokens) AS rate_ppm
  FROM per_src, tot
), kept AS (
  SELECT d.source, count(*) AS kept_docs, CAST(sum(d.toks) AS BIGINT) AS kept_tokens
  FROM per_doc d JOIN rates r USING (source)
  WHERE ({_H64.format(x="'mix:' || CAST(doc_id AS VARCHAR)")}) % 10000 < r.rate_ppm
  GROUP BY d.source
)
SELECT r.source, r.n_docs, r.est_tokens,
       round(r.rate_ppm / 10000.0, 6) AS keep_rate,
       coalesce(k.kept_docs, 0) AS kept_docs,
       coalesce(k.kept_tokens, 0) AS kept_tokens
FROM rates r LEFT JOIN kept k USING (source)
"""

register("mixture_bpe_token_budget", mixture_bpe_token_budget, _MIXTURE_BPE_SQL)


_NPROBE_SWEEP = (1, 2, 4, 8, 16)


def ann_recall_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF cost/recall TUNING CURVE as oracle-checked numbers: mean
    recall@5 vs exact cosine brute force at nprobe ∈ {1,2,4,8,16} over
    the 16-cell index — the operational knob a deployment turns when
    the single-point cert (`ann_recall_ivf_vs_exact`, nprobe=4) isn't
    enough recall. The nprobe=16 row probes every cell, so the curve
    self-certifies at recall 1.0 — any other value there would expose
    an indexing bug, not a tuning choice. Scan cost grows linearly in
    nprobe (candidates ≈ n·nprobe/cells per query)."""
    from functools import reduce

    e = load_table(spark, sf_dir, "embeddings")
    qdf = _queries_df(spark, sf_dir)
    # Exact side overlaps the IVF centroid training (the five nprobe
    # variants share ONE cached training via the cache manager's
    # same-plan dedup; guide §2.6).
    exact = sim.knn_bruteforce(e, qdf, k=5).select("q_id", "n_id").persist()
    wait_exact = materialize_async(exact)
    # Train the IVF quantizer NOW, overlapped with the exact side: this
    # cents plan is logically identical to the one each knn_ivf variant
    # persists internally, so the cache manager's same-plan dedup makes
    # all five variants read THIS materialization (one training, warm
    # before the sweep's joins run).
    cents = sim.ivf_centroids(e, sim.IVF_CELLS).persist()
    materialize(cents)
    wait_exact()
    parts = []
    for np_ in _NPROBE_SWEEP:
        approx = sim.knn_ivf(e, qdf, k=5, nprobe=np_).select("q_id", "n_id")
        hits = exact.join(approx, ["q_id", "n_id"], "left_semi")
        parts.append(
            hits.agg(F.count("*").alias("n_hits")).select(
                F.lit(np_).cast("long").alias("nprobe"),
                F.round(F.col("n_hits") / F.lit(5.0 * _N_QUERIES), 6).alias(
                    "recall_at_5"
                ),
            )
        )
    # Pinned, the curve no longer reads the exact side or the training.
    out = pin_result(reduce(lambda a, b: a.unionByName(b), parts))
    exact.unpersist()
    cents.unpersist()
    return out


def _ivf_nprobe_curve_sql() -> str:
    exact = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
pairs AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id, {_cosine_sql('q.vec', 'c.vec')} AS sim
  FROM e q JOIN e c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {_N_QUERIES}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
  FROM pairs
)
SELECT q_id, n_id FROM ranked WHERE rank <= 5
"""
    rows = []
    for np_ in _NPROBE_SWEEP:
        rows.append(f"""
SELECT CAST({np_} AS BIGINT) AS nprobe,
       round(count(*) / (5.0 * {_N_QUERIES}), 6) AS recall_at_5
FROM ({exact}) x
JOIN ({_ivf_sql(nprobe=np_)}) a ON x.q_id = a.q_id AND x.n_id = a.n_id""")
    return "\nUNION ALL\n".join(rows)


register(
    "ann_recall_ivf_nprobe_curve",
    ann_recall_ivf_nprobe_curve,
    _ivf_nprobe_curve_sql(),
)


# ---------------------------------------------------------------------------
# BPE training (learned merge table) — train AND apply, both in-engine
# ---------------------------------------------------------------------------

_BPE_TRAIN_ROUNDS = 16

# Training is deterministic (integer counts, lexicographic ties), so
# the learned table per fixture dir is a pure function of the data —
# memoized per process to keep the two trained-tokenizer queries (and
# the test suite's repeated invocations) from re-running the 16-round
# loop.
_TRAINED_MERGES: dict[str, tuple[tuple[str, str], ...]] = {}


def _trained_merges(spark: SparkSession, sf_dir: str) -> tuple[tuple[str, str], ...]:
    if sf_dir not in _TRAINED_MERGES:
        _TRAINED_MERGES[sf_dir] = tuple(
            bp.bpe_train(
                load_table(spark, sf_dir, "documents"), num_merges=_BPE_TRAIN_ROUNDS
            )
        )
    return _TRAINED_MERGES[sf_dir]


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TRAINING as distributed relational ops
    (`operators/bpe.py:bpe_train`): 16 rounds of corpus-wide adjacent-
    pair counting (one explode + hash aggregate per round — a linear
    corpus pass), deterministic argmax (ties → lexicographic;
    duplicate-producer outputs skipped so the learned table stays
    inside `validate_merges`' equivalence space), framed-string merge
    application. The oracle replays ALL rounds in SQL — materialized
    CTE per round, argmax via ORDER/LIMIT, the merge applied through
    correlated scalar subqueries in `replace` — certifying the learned
    table itself, not just its application."""
    merges = _trained_merges(spark, sf_dir)
    return spark.createDataFrame(
        [(i + 1, x, y) for i, (x, y) in enumerate(merges)],
        "rank long, x string, y string",
    )


def _bpe_train_ctes(rounds: int, final_state: bool) -> list[str]:
    framed = (
        "array_to_string(list_transform(regexp_extract_all("
        "replace(replace(replace(text, chr(1), ''), chr(2), ''), chr(3), ''), "
        f"{_BPE_RE_SQL}), "
        "p -> regexp_replace(p, '(?s)(.)', chr(3) || '\\1' || chr(1), 'g')), chr(2))"
    )
    ctes = [f"d0 AS MATERIALIZED (SELECT doc_id, {framed} AS s FROM documents)"]
    for r in range(1, rounds + 1):
        formed = ""
        if r > 1:
            prior = " UNION ALL ".join(
                f"SELECT x || y AS o FROM b{j}" for j in range(1, r)
            )
            formed = f"WHERE (x || y) NOT IN (SELECT o FROM ({prior}))"
        ctes.append(f"""p{r} AS MATERIALIZED (
  SELECT x, y, count(*) AS cnt FROM (
    SELECT left(sy[i.i], length(sy[i.i]) - 1) AS x,
           left(sy[i.i + 1], length(sy[i.i + 1]) - 1) AS y
    FROM (
      SELECT list_filter(string_split(pc.p, chr(3)), t -> t <> '') AS sy
      FROM d{r - 1}, unnest(string_split(s, chr(2))) AS pc(p)
    ), unnest(range(1, len(sy))) AS i(i)
  )
  {formed}
  GROUP BY x, y
)""")
        ctes.append(
            f"b{r} AS MATERIALIZED (SELECT x, y FROM p{r} "
            f"ORDER BY cnt DESC, x, y LIMIT 1)"
        )
        if r < rounds or final_state:
            ctes.append(f"""d{r} AS MATERIALIZED (
  SELECT doc_id,
         replace(s,
                 chr(3) || (SELECT x FROM b{r}) || chr(1) ||
                 chr(3) || (SELECT y FROM b{r}) || chr(1),
                 chr(3) || (SELECT x FROM b{r}) || (SELECT y FROM b{r}) || chr(1)) AS s
  FROM d{r - 1}
)""")
    return ctes


def _bpe_train_sql(rounds: int = _BPE_TRAIN_ROUNDS) -> str:
    ctes = _bpe_train_ctes(rounds, final_state=False)
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS rank, x, y FROM b{r}"
        for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + union


register("bpe_train_merges", bpe_train_merges, _bpe_train_sql())


def text_token_count_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The closing composition of the tokenizer story: TRAIN the merge
    table on the corpus (`bpe_train`, 16 rounds), then TOKENIZE the
    corpus with it (`bpe_token_counts`) — self-supervised subword
    counting with no external vocabulary, end to end in-engine. The
    oracle replays the full training chain AND reads the token counts
    off the final framed state (count of symbol terminators), so a
    MATCH certifies the trained tokenizer's output, not just its
    table."""
    docs = load_table(spark, sf_dir, "documents")
    merges = _trained_merges(spark, sf_dir)
    return bp.bpe_token_counts(docs, merges).select("doc_id", "n_tokens_bpe")


def _trained_count_sql(rounds: int = _BPE_TRAIN_ROUNDS) -> str:
    ctes = _bpe_train_ctes(rounds, final_state=True)
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        f"SELECT doc_id, CAST(length(s) - length(replace(s, chr(1), '')) AS BIGINT)"
        f" AS n_tokens_bpe FROM d{rounds}"
    )


register("text_token_count_trained", text_token_count_trained, _trained_count_sql())


def tokenizer_compression_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE compression audit under the TRAINED tokenizer — the
    data-card companion to `tokenizer_fertility_report` (which audits
    per-language under the fixed merge table): for each source, how
    many characters one trained-BPE token buys. Sources whose
    chars-per-token is far below the corpus norm are paying extra
    compute per byte (code, tables, non-target languages) — the number
    that drives per-source token-budget accounting when the mixture is
    spent in tokens. One trained-table apply pass (Arrow-batched
    mapInPandas, merge table rides the closure) with `source` and char
    counts carried through the batches, then a per-source rollup; the
    oracle replays the full 16-round training chain AND the counting
    off the final framed state, so a MATCH certifies the trained
    tokenizer's per-source accounting end to end."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_chars_txt", F.length("text").cast("long")
    )
    merges = _trained_merges(spark, sf_dir)
    counts = bp.bpe_token_counts(docs, merges, carry=("source", "n_chars_txt"))
    return (
        counts.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars_txt").alias("total_chars"),
            F.sum("n_tokens_bpe").alias("total_tokens_bpe"),
        )
        .select(
            "source",
            "n_docs",
            "total_chars",
            "total_tokens_bpe",
            F.expr("round(total_chars / nullif(total_tokens_bpe, 0), 6)").alias(
                "chars_per_token"
            ),
        )
        .orderBy("source")
    )


def _compression_by_source_sql(rounds: int = _BPE_TRAIN_ROUNDS) -> str:
    ctes = _bpe_train_ctes(rounds, final_state=True)
    return (
        "WITH " + ",\n".join(ctes) + f""",
counts AS (
  SELECT doc_id,
         CAST(length(s) - length(replace(s, chr(1), '')) AS BIGINT) AS n_tok
  FROM d{rounds}
),
j AS (
  SELECT d.source, CAST(length(d.text) AS BIGINT) AS n_chars, c.n_tok
  FROM documents d JOIN counts c USING (doc_id)
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens_bpe,
       round(sum(n_chars) / nullif(sum(n_tok), 0), 6) AS chars_per_token
FROM j GROUP BY source
"""
    )


register(
    "tokenizer_compression_by_source",
    tokenizer_compression_by_source,
    _compression_by_source_sql(),
)


# ---------------------------------------------------------------------------
# Round 8: SQ8 scalar-quantized ANN — the third quantizer family
# ---------------------------------------------------------------------------


def ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization ANN (`operators/similarity.py:knn_sq8`):
    per-dimension affine byte codes (FAISS SQ8). The approximate dot
    product is affine in the codes, so each query broadcasts a per-dim
    weight array + scalar bias and the scan reads only the byte-code
    table — the simplest of the three quantizer families (SQ / PQ /
    IVF-PQ), with much higher fidelity than PQ at 4× (vs 32×)
    compression. Training (per-dim min/max), encoding, and search are
    all deterministic, so the oracle replays the full chain."""
    e = load_table(spark, sf_dir, "embeddings")
    return sim.knn_sq8(e, _queries_df(spark, sf_dir), k=5)


def _sq8_sql() -> str:
    lv = sim.SQ_LEVELS
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
comp AS (
  SELECT vec_id, t.i - 1 AS dim, vec[t.i] AS x
  FROM e, unnest(range(1, len(vec) + 1)) AS t(i)
),
bounds AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM comp GROUP BY 1),
codes AS (
  SELECT vec_id, list(code ORDER BY dim) AS codes FROM (
    SELECT c.vec_id, c.dim,
           CASE WHEN b.hi = b.lo THEN 0
                ELSE CAST(least(floor((c.x - b.lo) * {lv}.0 / (b.hi - b.lo)), {lv}.0) AS INTEGER)
           END AS code
    FROM comp c JOIN bounds b USING (dim))
  GROUP BY vec_id
),
qside AS (
  SELECT vec_id AS q_id,
         list(w ORDER BY dim) AS w,
         list_reduce(list(bias_part ORDER BY dim), (p, q) -> p + q) AS bias
  FROM (
    SELECT c.vec_id, c.dim,
           c.x * (b.hi - b.lo) / {lv}.0 AS w,
           c.x * b.lo AS bias_part
    FROM comp c JOIN bounds b USING (dim)
    WHERE c.vec_id < {_N_QUERIES})
  GROUP BY vec_id
),
scored AS (
  SELECT q.q_id, c.vec_id AS n_id,
         q.bias + list_reduce([c.codes[i] * q.w[i] for i in range(1, len(q.w) + 1)],
                              (p, q) -> p + q) AS score
  FROM codes c JOIN qside q ON q.q_id <> c.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
  FROM scored
)
SELECT q_id, n_id, rank, round(score, 6) AS score FROM ranked WHERE rank <= 5
"""


register("ann_sq8", ann_sq8, _sq8_sql())


def ann_recall_sq8_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 quality as an oracle-checked number: per-query recall@5 vs
    exact inner-product brute force, plus the mean — the same
    certification shape as the PQ/IVF/LSH ones. Expectation pinned by
    tests: SQ8's 4× compression must land far above PQ's 32× recall
    floor (≈1.0 on these fixtures)."""
    return _recall_at_5(spark, sf_dir, sim.knn_bruteforce_dot, sim.knn_sq8)


def _sq8_recall_sql() -> str:
    exact_dot = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
pairs AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id, {_dot_sql('q.vec', 'c.vec')} AS score
  FROM e q JOIN e c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {_N_QUERIES}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rank
  FROM pairs
)
SELECT q_id, n_id FROM ranked WHERE rank <= 5
"""
    return f"""
WITH exact AS ({exact_dot}),
approx AS ({_sq8_sql()}),
per_q AS (
  SELECT e.q_id,
         round(count(a.n_id) / 5.0, 6) AS recall_at_5
  FROM exact e
  LEFT JOIN approx a ON a.q_id = e.q_id AND a.n_id = e.n_id
  GROUP BY e.q_id
)
SELECT q_id, recall_at_5 FROM per_q
UNION ALL
SELECT CAST(-1 AS BIGINT), round(avg(recall_at_5), 6) FROM per_q
"""


register("ann_recall_sq8_vs_exact", ann_recall_sq8_vs_exact, _sq8_recall_sql())


SEMANTIC_DUP_THRESHOLD = 0.4  # random fixtures; real corpora run ~0.95


def dedup_semantic_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dedup
    (`operators/similarity.py:semantic_dup_pairs`): candidate pairs
    come from the TRAINED IVF clustering (semantically close vectors
    share a cell by construction) instead of `dedup_embedding_cosine`'s
    random sign-bucket LSH — the learned-partitioning variant of the
    same bounded-block discipline. Threshold 0.4 on the random
    fixtures (their max within-cell cosine is ~0.45; production
    corpora run ~0.95); the full centroid-training chain is replayed
    by the oracle."""
    e = load_table(spark, sf_dir, "embeddings")
    return sim.semantic_dup_pairs(e, threshold=SEMANTIC_DUP_THRESHOLD)


def _semantic_dup_sql() -> str:
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
comp0 AS (
  SELECT vec_id % {sim.IVF_CELLS} AS cell, t.i AS dim,
         sum(CAST(floor(vec[t.i] * {sim.IVF_QUANT}) AS BIGINT)) AS s
  FROM e, unnest(range(1, len(vec)+1)) AS t(i) GROUP BY 1, 2
),
cents0 AS (SELECT cell, list(s::DOUBLE ORDER BY dim) AS cvec FROM comp0 GROUP BY cell),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cosine_sql('e.vec', 'c.cvec')} DESC, c.cell) AS r
    FROM e CROSS JOIN cents0 c) WHERE r = 1
),
comp AS (
  SELECT a.cell, t.i AS dim,
         sum(CAST(floor(vec[t.i] * {sim.IVF_QUANT}) AS BIGINT)) AS s
  FROM e JOIN assign a USING (vec_id), unnest(range(1, len(vec)+1)) AS t(i)
  GROUP BY 1, 2
),
cents AS (SELECT cell, list(s::DOUBLE ORDER BY dim) AS cvec FROM comp GROUP BY cell),
inv AS (
  SELECT vec_id, vec, cell FROM (
    SELECT e.vec_id, e.vec, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cosine_sql('e.vec', 'c.cvec')} DESC, c.cell) AS r
    FROM e CROSS JOIN cents c) WHERE r = 1
)
SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
       round({_cosine_sql('a.vec', 'b.vec')}, 6) AS sim
FROM inv a JOIN inv b ON a.cell = b.cell AND a.vec_id < b.vec_id
WHERE {_cosine_sql('a.vec', 'b.vec')} >= {SEMANTIC_DUP_THRESHOLD}
"""


register("dedup_semantic_ivf", dedup_semantic_ivf, _semantic_dup_sql())


CBAL_PER_CELL = 20  # per-cluster keep cap — the "target proportion"


def sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-cluster-balanced sampling — the operation SemDeDup-
    family pipelines run right after `dedup_semantic_ivf` spends the
    clustering: rebalance the corpus BY semantic cluster so oversized
    clusters (boilerplate modes, template families) stop dominating
    the mixture. Every vector gets a deterministic salted-md5 draw;
    within each trained IVF cell the `CBAL_PER_CELL` smallest draws
    survive. A rank cap IS inverse-cluster-size weighting: clusters at
    or under the cap keep everything (keep-rate 1), a 10×-cap cluster
    keeps 10% — and unlike probabilistic thinning the per-cluster
    output size is exact.

    Determinism: the draw is partition-layout-independent (same
    salted-md5 discipline as `split_train_val_test`), assignment comes
    from the deterministic quantized-integer IVF training chain, and
    the (draw, vec_id) order is total — same sample on any cluster,
    any engine. Scale: training is the IVF aggregate chain (broadcast
    centroids, no corpus shuffle), ranking is one window over the
    cell-partitioned assignment — no global sort, no collect."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "embeddings")
    assigned = sim.ivf_lists(e, sim.ivf_centroids(e)).select(
        F.col("n_id").alias("id"), "cell"
    )
    sizes = assigned.groupBy("cell").agg(F.count("*").alias("cell_size"))
    w = Window.partitionBy("cell").orderBy(F.asc("draw"), F.asc("id"))
    return (
        assigned.withColumn(
            "draw", tx.sample_hash(F.col("id"), salt="cbal", modulus=1_000_000)
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= CBAL_PER_CELL)
        .join(sizes, "cell")
        .select(
            F.col("id").alias("vec_id"),
            "cell",
            "cell_size",
            F.col("rk").alias("sample_rank"),
        )
    )


def _cluster_balanced_sql() -> str:
    from query_processing_over_streaming_data_using_flink_spark.functions.scalar import md5_hash64_sql

    key = "'cbal:' || CAST(vec_id AS VARCHAR)"
    draw = f"({md5_hash64_sql(key)}) % 1000000"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
comp0 AS (
  SELECT vec_id % {sim.IVF_CELLS} AS cell, t.i AS dim,
         sum(CAST(floor(vec[t.i] * {sim.IVF_QUANT}) AS BIGINT)) AS s
  FROM e, unnest(range(1, len(vec)+1)) AS t(i) GROUP BY 1, 2
),
cents0 AS (SELECT cell, list(s::DOUBLE ORDER BY dim) AS cvec FROM comp0 GROUP BY cell),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cosine_sql('e.vec', 'c.cvec')} DESC, c.cell) AS r
    FROM e CROSS JOIN cents0 c) WHERE r = 1
),
comp AS (
  SELECT a.cell, t.i AS dim,
         sum(CAST(floor(vec[t.i] * {sim.IVF_QUANT}) AS BIGINT)) AS s
  FROM e JOIN assign a USING (vec_id), unnest(range(1, len(vec)+1)) AS t(i)
  GROUP BY 1, 2
),
cents AS (SELECT cell, list(s::DOUBLE ORDER BY dim) AS cvec FROM comp GROUP BY cell),
inv AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cosine_sql('e.vec', 'c.cvec')} DESC, c.cell) AS r
    FROM e CROSS JOIN cents c) WHERE r = 1
),
sizes AS (SELECT cell, count(*) AS cell_size FROM inv GROUP BY cell),
ranked AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY cell
                            ORDER BY {draw} ASC, vec_id ASC) AS sample_rank
  FROM inv
)
SELECT r.vec_id, r.cell, s.cell_size, r.sample_rank
FROM ranked r JOIN sizes s USING (cell)
WHERE r.sample_rank <= {CBAL_PER_CELL}
"""


register("sample_cluster_balanced", sample_cluster_balanced, _cluster_balanced_sql())


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupted-embedding detection: each vector's cosine to its own
    label's centroid DIRECTION (the quantized integer component sums —
    cosine is scale-invariant, so no division ever happens), then a
    per-label z-score of that cosine from integer power sums (the
    `events_daily_anomalies` discipline: no float-merge anywhere), and
    an outlier flag at z < -2. Mis-labeled, zeroed, or corrupted
    vectors sit far from their class prototype; this is the vector-side
    analogue of the text quality gates. Two narrow shuffles: the
    (label, dim) centroid aggregate (broadcast back), then the
    per-label moment aggregate (broadcast back)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # The centroid aggregate IS similarity._centroid_sums (the IVF
    # quantizer's own training step, same IVF_QUANT constant), keyed by
    # label instead of cell — reusing it keeps the two families'
    # determinism discipline one piece of code.
    cents = sim._centroid_sums(
        emb.select(
            F.col("label").alias("cell"),
            F.col("embedding").cast("array<double>").alias("vec"),
        )
    ).withColumnRenamed("cell", "label")
    vecs = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("vec")
    )
    cos_micro = F.floor(
        sim.cosine(F.col("vec"), F.col("cvec")) * F.lit(1_000_000)
    ).cast("long")
    scored = vecs.join(F.broadcast(cents), "label").select(
        "vec_id", "label", cos_micro.alias("cos_micro")
    )
    moments = scored.groupBy("label").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("cos_micro").cast("double").alias("sx"),
        F.sum(F.col("cos_micro") * F.col("cos_micro")).cast("double").alias("sxx"),
    )
    z = (
        (F.col("cos_micro") * F.col("n") - F.col("sx"))
        / F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    )
    return (
        scored.join(F.broadcast(moments), "label")
        .select(
            "vec_id",
            "label",
            "cos_micro",
            F.round(z, 6).alias("z"),
            (z < -2.0).alias("is_outlier"),
        )
    )


_OUTLIERS_SQL = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings),
comp AS (
  SELECT label, t.i - 1 AS dim, sum(CAST(floor(vec[t.i] * {sim.IVF_QUANT}) AS BIGINT)) AS s
  FROM e, unnest(range(1, len(vec) + 1)) AS t(i) GROUP BY 1, 2
),
cents AS (SELECT label, list(s::DOUBLE ORDER BY dim) AS cvec FROM comp GROUP BY label),
scored AS (
  SELECT e.vec_id, e.label,
         CAST(floor({_cosine_sql('e.vec', 'c.cvec')} * 1000000) AS BIGINT) AS cos_micro
  FROM e JOIN cents c USING (label)
),
moments AS (
  SELECT label, CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(cos_micro) AS DOUBLE) AS sx,
         CAST(sum(cos_micro * cos_micro) AS DOUBLE) AS sxx
  FROM scored GROUP BY label
)
SELECT s.vec_id, s.label, s.cos_micro,
       round((s.cos_micro * m.n - m.sx) / sqrt(m.n * m.sxx - m.sx * m.sx), 6) AS z,
       ((s.cos_micro * m.n - m.sx) / sqrt(m.n * m.sxx - m.sx * m.sx)) < -2.0 AS is_outlier
FROM scored s JOIN moments m USING (label)
"""

register("embedding_outliers", embedding_outliers, _OUTLIERS_SQL)


SOURCE_OVERLAP_MAX_DF = 10  # shingles in more sources than this are boilerplate


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination diagnostics: for every source pair,
    how many distinct 3-gram shingle hashes they share — the
    corpus-level view that tells you WHICH feeds syndicate from each
    other before you spend the doc-level dedup passes. Plan: distinct
    (source, h) rows (one narrow shuffle), self-equi-join on the hash
    (the same banded-candidate discipline as every dedup path — never
    an all-pairs product over sources), then a count per pair. Output
    also carries each side's distinct-shingle total so the overlap is
    readable as a containment fraction.

    Hot-shingle guard: a shingle present in ALL sources would
    contribute |sources|² join rows — at web scale (10⁶ domains) that
    is the blowup that kills naive overlap counting. Shingles carried
    by more than SOURCE_OVERLAP_MAX_DF sources are pruned BEFORE the
    pair join (they are boilerplate, not a contamination signal — the
    same top-frequency drop CCNet applies), bounding per-hash fanout
    at MAX_DF² regardless of source count. On these fixtures the cap
    is not binding at sf0.01 (max source-df 7), so the oracle check
    exercises the guard's plumbing without masking data."""
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        tx.shingle_hash_rows(docs.select("doc_id", "text"), k=3)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "h")
        .distinct()
    )
    hot = (
        sh.groupBy("h")
        .agg(F.count("*").alias("ns"))
        .filter(F.col("ns") > SOURCE_OVERLAP_MAX_DF)
        .select("h")
    )
    sh = sh.join(hot, "h", "left_anti")
    totals = sh.groupBy("source").agg(F.count("*").alias("n_shingles"))
    a = sh.select(F.col("source").alias("source_a"), "h")
    b = sh.select(F.col("source").alias("source_b"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("shared"))
    )
    return (
        pairs.join(
            totals.withColumnRenamed("source", "source_a").withColumnRenamed(
                "n_shingles", "n_a"
            ),
            "source_a",
        )
        .join(
            totals.withColumnRenamed("source", "source_b").withColumnRenamed(
                "n_shingles", "n_b"
            ),
            "source_b",
        )
        .select("source_a", "source_b", "shared", "n_a", "n_b")
    )


_SOURCE_OVERLAP_SQL = f"""
WITH sh0 AS (
  SELECT DISTINCT d.source, u.h
  FROM (SELECT doc_id, source, {_shingle_hashes_sql().replace('toks', _TOKENS)} AS hs
        FROM documents) d,
       UNNEST(d.hs) AS u(h)
),
hot AS (SELECT h FROM sh0 GROUP BY h HAVING count(*) > {SOURCE_OVERLAP_MAX_DF}),
sh AS (SELECT s.* FROM sh0 s LEFT JOIN hot ON s.h = hot.h WHERE hot.h IS NULL),
totals AS (SELECT source, count(*) AS n_shingles FROM sh GROUP BY 1),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.source_a, p.source_b, p.shared, ta.n_shingles AS n_a, tb.n_shingles AS n_b
FROM pairs p
JOIN totals ta ON ta.source = p.source_a
JOIN totals tb ON tb.source = p.source_b
"""

register("source_overlap_matrix", source_overlap_matrix, _SOURCE_OVERLAP_SQL)


MMR_LAMBDA = 0.5
MMR_POOL = 20
MMR_K = 5


def ann_mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified retrieval (`operators/similarity.py:mmr_select`):
    greedy relevance-minus-redundancy re-ranking of each query's exact
    top-20 pool — the standard answer to near-duplicate-saturated
    result lists. The k selection rounds are driver-counted but
    row-distributed; the oracle unrolls all five rounds in SQL, so the
    hash match certifies every greedy pick and tie-break."""
    e = load_table(spark, sf_dir, "embeddings")
    return sim.mmr_select(
        e, _queries_df(spark, sf_dir), k_pool=MMR_POOL, k_select=MMR_K, lam=MMR_LAMBDA
    )


def _mmr_sql() -> str:
    lam, one_m = MMR_LAMBDA, 1.0 - MMR_LAMBDA
    parts = [f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
pool AS MATERIALIZED (
  SELECT q_id, n_id, round(raw_sim, 6) AS sim, d_vec FROM (
    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           {_cosine_sql('q.vec', 'c.vec')} AS raw_sim, c.vec AS d_vec,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_cosine_sql('q.vec', 'c.vec')} DESC, c.vec_id) AS rank
    FROM (SELECT * FROM e WHERE vec_id < {_N_QUERIES}) q
    JOIN e c ON q.vec_id <> c.vec_id)
  WHERE rank <= {MMR_POOL}
),
sel1 AS MATERIALIZED (
  SELECT q_id, n_id, 1 AS sel_round, mmr AS score, d_vec AS s_vec FROM (
    SELECT *, {lam} * sim AS mmr,
           row_number() OVER (PARTITION BY q_id ORDER BY {lam} * sim DESC, n_id) AS rk
    FROM pool) WHERE rk = 1
),
selected1 AS MATERIALIZED (SELECT * FROM sel1)"""]
    for r in range(2, MMR_K + 1):
        parts.append(f""",
rem{r} AS MATERIALIZED (
  SELECT p.* FROM pool p
  LEFT JOIN selected{r-1} s ON p.q_id = s.q_id AND p.n_id = s.n_id
  WHERE s.n_id IS NULL
),
red{r} AS MATERIALIZED (
  SELECT p.q_id, p.n_id, max({_cosine_sql('p.d_vec', 's.s_vec')}) AS max_ssim
  FROM rem{r} p JOIN selected{r-1} s USING (q_id)
  GROUP BY 1, 2
),
sel{r} AS MATERIALIZED (
  SELECT q_id, n_id, {r} AS sel_round, mmr AS score, d_vec AS s_vec FROM (
    SELECT p.*, {lam} * p.sim - {one_m} * d.max_ssim AS mmr,
           row_number() OVER (PARTITION BY p.q_id
                              ORDER BY {lam} * p.sim - {one_m} * d.max_ssim DESC, p.n_id) AS rk
    FROM rem{r} p JOIN red{r} d ON p.q_id = d.q_id AND p.n_id = d.n_id)
  WHERE rk = 1
),
selected{r} AS MATERIALIZED (SELECT * FROM selected{r-1} UNION ALL SELECT * FROM sel{r})""")
    parts.append(f"""
SELECT q_id, n_id, sel_round, round(score, 6) AS score FROM selected{MMR_K}
""")
    return "".join(parts)


register("ann_mmr_diversified", ann_mmr_diversified, _mmr_sql())


# ---------------------------------------------------------------------------
# Corpus export: deterministic sharding with a verifiable manifest
# ---------------------------------------------------------------------------

N_SHARDS = 64
# Fingerprint modulus: 2^61 - 1 (prime). Per-doc hashes are 60-bit, so
# the running sum is taken exactly (decimal(38,0) in Spark, HUGEINT in
# DuckDB — both exact integer arithmetic) and reduced once at the end;
# headroom is 10^38 / 2^60 ≈ 10^20 docs per shard.
_FP_MOD = 2305843009213693951


def shard_doc_frame(docs: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """Per-doc shard projection shared by the batch manifest and the
    streaming face (`streaming/export_manifest.py`): shard assignment,
    within-shard order draw, content hash, char mass — all pure salted
    md5 functions of the row. `extra` columns (e.g. the changelog's
    signed `op`) pass through untouched."""
    return docs.select(
        *extra,
        "doc_id",
        (
            md5_hash64(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
            % N_SHARDS
        ).alias("shard_id"),
        md5_hash64(
            F.concat(F.lit("order:"), F.col("doc_id").cast("string"))
        ).alias("draw"),
        md5_hash64(F.col("text")).alias("fp"),
        F.length("text").cast("long").alias("n_chars_txt"),
    )


def export_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus EXPORT step a 100 TB training run ends with: assign
    every document a deterministic shard (salted md5 of doc_id mod 64)
    and a deterministic within-shard position (an independent salted
    draw — a reproducible global shuffle, so training order is fixed by
    the data alone, not by task scheduling), then emit the 64-row
    manifest that certifies the export: per shard, the doc count, byte
    mass, an order-independent content fingerprint (sum of per-doc
    content hashes mod 2^61-1), and an order-SENSITIVE fingerprint
    (position-weighted hash sum) that changes if any shard's write
    order changes. Two writers on different clusters can diff manifests
    instead of 100 TB of bytes.

    Plan shape: one corpus scan, one shuffle (the per-shard window's
    partitioning IS the writer's repartition(shard_id)), then a
    map-side-combinable aggregate down to 64 rows. At scale the same
    frame feeds `.write.partitionBy(shard_id)` directly; the manifest
    rides the identical exchange, so certification adds no extra pass.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    d = shard_doc_frame(docs)
    w = Window.partitionBy("shard_id").orderBy("draw", "doc_id")
    d = d.withColumn("pos", F.row_number().over(w).cast("long"))
    # Position-weighted term: the FULL 60-bit hash times the full
    # position, exact in the decimal(38,0) accumulator (≤ 2^60 · pos —
    # headroom to ~10^19-row shards), reduced once mod p. No residue
    # shrinking: reducing either factor first (an earlier draft used
    # mod 1000003) makes the fingerprint blind to reorderings that move
    # rows by a multiple of the modulus — reachable at recommended
    # shard sizes.
    d = d.withColumn(
        "ofp",
        ((F.col("fp").cast("decimal(38,0)") * F.col("pos")) % F.lit(_FP_MOD))
        .cast("long"),
    )
    return (
        d.groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars_txt").alias("total_chars"),
            (F.sum(F.col("fp").cast("decimal(38,0)")) % F.lit(_FP_MOD))
            .cast("long")
            .alias("content_fp"),
            (F.sum(F.col("ofp").cast("decimal(38,0)")) % F.lit(_FP_MOD))
            .cast("long")
            .alias("order_fp"),
        )
        .orderBy("shard_id")
    )


_SHARD_MANIFEST_SQL = f"""
WITH d AS (
  SELECT doc_id,
         {_H64.format(x="'shard:' || CAST(doc_id AS VARCHAR)")} % {N_SHARDS} AS shard_id,
         {_H64.format(x="'order:' || CAST(doc_id AS VARCHAR)")} AS draw,
         {_H64.format(x='text')} AS fp,
         CAST(length(text) AS BIGINT) AS n_chars_txt
  FROM documents
),
p AS (
  SELECT *,
         CAST(row_number() OVER (PARTITION BY shard_id ORDER BY draw, doc_id)
              AS BIGINT) AS pos
  FROM d
)
SELECT shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars_txt) AS BIGINT) AS total_chars,
       CAST(sum(CAST(fp AS HUGEINT)) % {_FP_MOD} AS BIGINT) AS content_fp,
       CAST(sum((CAST(fp AS HUGEINT) * pos) % {_FP_MOD})
            % {_FP_MOD} AS BIGINT) AS order_fp
FROM p
GROUP BY shard_id
"""

register("export_shard_manifest", export_shard_manifest, _SHARD_MANIFEST_SQL)


# ---------------------------------------------------------------------------
# Tokenizer fertility: per-language tokens/char under the trained BPE
# ---------------------------------------------------------------------------


def tokenizer_fertility_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer-fertility audit — the standard check that
    a tokenizer doesn't tax some languages with far more tokens per
    character than others (fertility in the multilingual-tokenizer
    literature; high fertility = that language pays more compute per
    byte of text). Runs the TRUE BPE tokenizer (`operators/bpe.py`,
    the same merge-table application `text_bpe_token_count` certifies)
    once over the corpus with `lang` and char counts carried through
    the Arrow batches — no corpus self-join — then rolls up per
    language: doc/char/piece/token masses, chars-per-token (the
    inverse of fertility), and the BPE expansion over pre-tokenizer
    pieces. The oracle replays the full merge chain in SQL per doc and
    aggregates identically; divisions are textually mirrored
    (`nullif`-guarded, round 6)."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_chars_txt", F.length("text").cast("long")
    )
    counts = bp.bpe_token_counts(docs, carry=("lang", "n_chars_txt"))
    totals = counts.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars_txt").alias("total_chars"),
        F.sum("n_pieces").alias("total_pieces"),
        F.sum("n_tokens_bpe").alias("total_tokens_bpe"),
    )
    return totals.select(
        "lang",
        "n_docs",
        "total_chars",
        "total_pieces",
        "total_tokens_bpe",
        F.expr("round(total_chars / nullif(total_tokens_bpe, 0), 6)").alias(
            "chars_per_token"
        ),
        F.expr("round(total_tokens_bpe / nullif(total_pieces, 0), 6)").alias(
            "bpe_expansion"
        ),
    ).orderBy("lang")


_FERTILITY_SQL = f"""
WITH c AS (
  SELECT doc_id, lang,
         CAST(length(text) AS BIGINT) AS n_chars_txt,
         CAST(len(regexp_extract_all(text, {_BPE_RE_SQL})) AS BIGINT) AS n_pieces,
         CAST({_BPE_COUNT} AS BIGINT) AS n_tokens_bpe
  FROM documents
),
t AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars_txt) AS BIGINT) AS total_chars,
         CAST(sum(n_pieces) AS BIGINT) AS total_pieces,
         CAST(sum(n_tokens_bpe) AS BIGINT) AS total_tokens_bpe
  FROM c GROUP BY lang
)
SELECT lang, n_docs, total_chars, total_pieces, total_tokens_bpe,
       round(total_chars / nullif(total_tokens_bpe, 0), 6) AS chars_per_token,
       round(total_tokens_bpe / nullif(total_pieces, 0), 6) AS bpe_expansion
FROM t
"""

register("tokenizer_fertility_report", tokenizer_fertility_report, _FERTILITY_SQL)


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split (cluster-level assignment)
# ---------------------------------------------------------------------------


def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split that cannot leak near-duplicates across the
    boundary: the salted-md5 draw is taken on the near-dup CLUSTER id
    (connected components over the banded MinHash-LSH pairs — the
    registered `dedup_minhash_lsh` machinery at the same 0.35 verified
    threshold), not the doc id, so every member of a template family
    lands on the same side — the failure mode `split_train_val_test`
    (doc-level draw) permits is a paraphrase of a training doc sitting
    in the eval split and inflating eval scores. Same permille
    constants as the doc-level split; singletons (cluster_id = own
    doc_id) behave exactly like the doc-level split, so the two
    assignments differ only where near-dups exist — which is the point.

    Plan: LSH candidate generation (linear — banded equi-join; the
    pre-r12 `ngram_jaccard_pairs` generator was quadratic within its
    lang blocks and dominated the full pipeline at the 10× soak), then
    pointer-jumped min-label propagation (work scales with candidate
    pairs), then a zero-shuffle hash on the label. The oracle embeds
    the registered MinHash pair SQL verbatim inside the recursive
    transitive-closure CTEs."""
    return leakage_safe_split_frame(load_table(spark, sf_dir, "documents"))


def leakage_safe_split_frame(docs: DataFrame) -> DataFrame:
    """Frame-level `split_leakage_safe` body — shared with the
    streaming curation face's release step (the split is corpus-global
    clustering, a release-time batch stage in both faces).

    Round 12: the candidate pairs come from the banded MinHash-LSH
    generator (the registered `dedup_minhash_lsh` machinery, same 0.35
    verified-Jaccard threshold) instead of `ngram_jaccard_pairs` —
    the all-pairs generator is quadratic WITHIN its lang blocks, and
    at the 10× soak it was already the single most expensive stage of
    the whole suite (~195 s of `curation_pipeline_full`'s 242 s; at
    100 TB it would be the pipeline's scale-killer). The LSH pairs are
    also corpus-global rather than lang-blocked, which is strictly
    safer for a leakage split (cross-lang template families land on
    one side too)."""
    clusters = dd.dedup_clusters(docs, dd.minhash_lsh_pairs(docs, threshold=0.35))
    draw = tx.sample_hash(F.col("cluster_id"), salt="clsplit", modulus=1000)
    split = (
        F.when(draw < tx.SPLIT_VAL_PERMILLE, F.lit("val"))
        .when(draw < tx.SPLIT_VAL_PERMILLE + tx.SPLIT_TEST_PERMILLE, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return clusters.select("doc_id", "cluster_id", "cluster_size", split.alias("split"))


def dedup_clusters_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering over the banded MinHash-LSH pair graph —
    the component structure `split_leakage_safe` draws on since round
    12, certified DIRECTLY (not only through the split's hash of it):
    connected components (pointer-jumped min-label propagation) over
    `dedup_minhash_lsh`'s verified pairs. The linear-candidate sibling
    of `dedup_clusters_ngram` (whose all-pairs generator is the exact
    baseline, quadratic within lang blocks) — at 100 TB this is the
    clustering production dedup actually runs. Oracle = the registered
    MinHash pair SQL verbatim inside a recursive transitive closure."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(docs, threshold=0.35)
    return dd.dedup_clusters(docs, pairs)


def _leakage_safe_split_sql() -> str:
    from query_processing_over_streaming_data_using_flink_spark.functions.scalar import md5_hash64_sql

    h = md5_hash64_sql("'clsplit:' || CAST(cluster_id AS VARCHAR)")
    return f"""
WITH RECURSIVE
{_mh_clusters_ctes()}
SELECT doc_id, cluster_id, cluster_size,
       CASE WHEN ({h}) % 1000 < {tx.SPLIT_VAL_PERMILLE} THEN 'val'
            WHEN ({h}) % 1000 < {tx.SPLIT_VAL_PERMILLE + tx.SPLIT_TEST_PERMILLE} THEN 'test'
            ELSE 'train' END AS split
FROM labels JOIN sizes USING (cluster_id)
"""


register("split_leakage_safe", split_leakage_safe, _leakage_safe_split_sql())

_MH_CLUSTERS_SQL = f"""
WITH RECURSIVE
{_mh_clusters_ctes()}
SELECT doc_id, cluster_id, cluster_size FROM labels JOIN sizes USING (cluster_id)
"""

register("dedup_clusters_minhash", dedup_clusters_minhash, _MH_CLUSTERS_SQL)


# ---------------------------------------------------------------------------
# Round 13: LSH recall certification, span-burn rewrite, per-source
# dedup telemetry
# ---------------------------------------------------------------------------


def dedup_lsh_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-level recall certification of the production candidate
    generator: the banded MinHash-LSH pairs (`dedup_minhash_lsh`, the
    generator every production-semantic dedup query clusters over since
    r12/r13) audited against the EXACT all-pairs n-gram-Jaccard
    baseline (`dedup_ngram_jaccard`) at the same 0.35 threshold. One
    summary row: how many exact pairs exist, how many the LSH bands
    recalled, the recall ratio, and the HIGHEST-Jaccard pair the bands
    missed (LSH misses concentrate just above threshold — a high
    max_missed_jaccard would mean the band layout is wrong, not just
    probabilistically lossy). Precision needs no audit: candidates are
    verified with exact Jaccard before emission. n_lsh_pairs can exceed
    n_recalled because the LSH generator is corpus-global while the
    exact baseline blocks within lang (cross-lang template pairs are
    found ONLY by LSH — strictly safer for dedup).

    Scale: the exact side is the quadratic baseline — this cert runs at
    test scale as ground truth; at 100 TB you certify on a sampled
    stratum, the LSH side itself stays linear."""
    docs = load_table(spark, sf_dir, "documents")
    # The quadratic exact baseline and the banded-LSH generator are
    # independent until the audit join: overlap them (guide 2.6;
    # background exact, main-thread LSH force) — the baselines
    # themselves stay intentionally quadratic (their certification
    # role; the r14 verdict's do-not-touch list).
    exact = dd.ngram_jaccard_pairs(docs, threshold=0.35).persist()
    wait_exact = materialize_async(exact)
    lsh = dd.minhash_lsh_pairs(docs, threshold=0.35).persist()
    materialize(lsh)
    wait_exact()
    marked = exact.join(
        lsh.select("doc_a", "doc_b", F.lit(1).alias("found")),
        ["doc_a", "doc_b"],
        "left",
    )
    per = marked.agg(
        F.count(F.lit(1)).alias("n_exact_pairs"),
        F.coalesce(F.sum(F.coalesce(F.col("found"), F.lit(0))), F.lit(0))
        .cast("long")
        .alias("n_recalled"),
        F.max(F.when(F.col("found").isNull(), F.col("jaccard"))).alias(
            "max_missed_jaccard"
        ),
    )
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("n_lsh_pairs"))
    return per.crossJoin(F.broadcast(n_lsh)).select(
        "n_exact_pairs",
        "n_lsh_pairs",
        "n_recalled",
        F.round(
            F.when(
                F.col("n_exact_pairs") > 0,
                F.col("n_recalled") / F.col("n_exact_pairs"),
            ),
            6,
        ).alias("recall"),
        "max_missed_jaccard",
    )


_LSH_RECALL_SQL = f"""
WITH ex AS ({_NGRAM_JACCARD_SQL}),
mh AS ({_minhash_sql()}),
j AS (
  SELECT e.jaccard, m.doc_a AS hit
  FROM ex e LEFT JOIN mh m ON e.doc_a = m.doc_a AND e.doc_b = m.doc_b
)
SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
       (SELECT CAST(count(*) AS BIGINT) FROM mh) AS n_lsh_pairs,
       CAST(coalesce(sum(CASE WHEN hit IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_recalled,
       round(coalesce(sum(CASE WHEN hit IS NOT NULL THEN 1 ELSE 0 END), 0)
             / nullif(count(*), 0), 6) AS recall,
       max(CASE WHEN hit IS NULL THEN jaccard END) AS max_missed_jaccard
FROM j
"""

register("dedup_lsh_recall_vs_exact", dedup_lsh_recall_vs_exact, _LSH_RECALL_SQL)


def decontaminate_eval_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-BURN decontamination — the document-retention dual of
    `decontaminate_eval_substring` (which only flags): instead of
    dropping a training document that shares a ≥ K-token exact run with
    the eval slice (doc_id % 7 == 0), burn the leaked span out of the
    text and keep the rest — what eval-hygiene pipelines actually do
    when the contamination is a quoted benchmark item inside an
    otherwise-novel document. Emits one row per TRAIN doc: token count,
    burned-token count, burn ratio, and the md5 of the reassembled text
    (the oracle value-checks the rewrite itself, the
    `dedup_substring_rewrite` certification pattern).
    `operators/dedup.py:cross_substring_burn`; K=20 like the other
    substring queries."""
    docs = load_table(spark, sf_dir, "documents")
    is_eval = (F.col("doc_id") % 7) == 0
    eval_docs = docs.filter(is_eval).select("doc_id", "text")
    train = docs.filter(~is_eval).select("doc_id", "text")
    return dd.cross_substring_burn(eval_docs, train, span_tokens=_SPAN_TOKENS_Q)


def _decontam_burn_sql(k: int = _SPAN_TOKENS_Q) -> str:
    h = _H64.format(x=f"array_to_string(toks[i.i : i.i + {k} - 1], ' ')")
    return f"""
WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
sh AS (
  SELECT doc_id, i.i AS pos, {h} AS h
  FROM t, unnest(range(1, len(toks) - {k} + 2)) AS i(i)
  WHERE len(toks) >= {k}
),
hist AS (SELECT doc_id AS doc_h, pos AS pos_h, h FROM sh WHERE doc_id % 7 = 0),
new AS (SELECT doc_id AS doc_b, pos AS pos_b, h FROM sh WHERE doc_id % 7 <> 0),
m AS (
  SELECT n.doc_b, hi.doc_h, n.pos_b, n.pos_b - hi.pos_h AS diag
  FROM new n JOIN hist hi ON n.h = hi.h
),
runs AS (
  SELECT *, pos_b - row_number() OVER (PARTITION BY doc_b, doc_h, diag ORDER BY pos_b) AS isl
  FROM m
),
spans AS (
  SELECT doc_b, min(pos_b) AS b_start, max(pos_b) - min(pos_b) + {k} AS span_len
  FROM runs GROUP BY doc_b, doc_h, diag, isl
),
covered AS (
  SELECT DISTINCT doc_b AS doc_id, i.i AS pos
  FROM spans, unnest(range(b_start, b_start + span_len)) AS i(i)
),
toks AS (
  SELECT doc_id, t2.i AS pos, toks[t2.i] AS tok
  FROM t, unnest(range(1, len(toks) + 1)) AS t2(i)
  WHERE doc_id % 7 <> 0
),
totals AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id),
nburn AS (SELECT doc_id, count(*) AS n_burned_tokens FROM covered GROUP BY doc_id),
kept AS (
  SELECT t.doc_id, t.pos, t.tok FROM toks t
  ANTI JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
),
cleaned AS (
  SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY pos)) AS cleaned_md5
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, t.n_tokens,
       coalesce(n.n_burned_tokens, 0) AS n_burned_tokens,
       round(coalesce(n.n_burned_tokens, 0) / t.n_tokens, 6) AS burn_ratio,
       coalesce(c.cleaned_md5, md5('')) AS cleaned_md5
FROM totals t
LEFT JOIN nburn n ON t.doc_id = n.doc_id
LEFT JOIN cleaned c ON t.doc_id = c.doc_id
"""


register(
    "decontaminate_eval_substring_rewrite",
    decontaminate_eval_substring_rewrite,
    _decontam_burn_sql(),
)


def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source near-dup telemetry over the production MinHash-LSH
    clusters — the data-card number every corpus release quotes and the
    ops dashboard for crawl health (a source whose dup rate jumps is
    re-crawling itself): per source, the doc count, how many docs sit
    in a multi-member near-dup cluster, that ratio, how many docs ARE a
    cluster canonical (the min-id member — what min-id dedup keeps),
    and how many a canonical-only pass would drop. Canonicals are
    counted where their cluster label lives, so a cluster spanning two
    sources charges the drop to the non-canonical source — the
    attribution a cross-source syndication audit wants.

    Plan: the certified LSH clustering (linear candidate generation)
    plus ONE extra aggregate on source — no new corpus-scale shuffle
    beyond the clusterer's own."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = dd.dedup_clusters(docs, dd.minhash_lsh_pairs(docs, threshold=0.35))
    j = clusters.join(docs.select("doc_id", "source"), "doc_id")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("cluster_size") > 1).cast("long")).alias(
                "n_in_dup_clusters"
            ),
            F.sum((F.col("doc_id") == F.col("cluster_id")).cast("long")).alias(
                "n_canonicals"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_in_dup_clusters",
            F.round(F.col("n_in_dup_clusters") / F.col("n_docs"), 6).alias(
                "dup_doc_ratio"
            ),
            "n_canonicals",
            (F.col("n_docs") - F.col("n_canonicals")).alias("n_would_drop"),
        )
    )


_DEDUP_RATE_SQL = f"""
WITH RECURSIVE
{_mh_clusters_ctes()},
lab AS (SELECT doc_id, cluster_id, cluster_size FROM labels JOIN sizes USING (cluster_id))
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN l.cluster_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_in_dup_clusters,
       round(sum(CASE WHEN l.cluster_size > 1 THEN 1 ELSE 0 END) / count(*), 6)
           AS dup_doc_ratio,
       CAST(sum(CASE WHEN l.doc_id = l.cluster_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_canonicals,
       CAST(count(*) - sum(CASE WHEN l.doc_id = l.cluster_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_would_drop
FROM lab l JOIN documents d USING (doc_id)
GROUP BY d.source
"""

register("dedup_rate_by_source", dedup_rate_by_source, _DEDUP_RATE_SQL)


# ---------------------------------------------------------------------------
# Semantic (embedding-based) eval decontamination — round 14. Closes
# the one modality the decontam family was missing: exact-shingle
# (`decontaminate_eval_overlap`), MinHash-fuzzy (`_minhash`), 13-gram
# (`_ngram13`), and span-level (`_substring`/`_rewrite`) are all
# TOKEN-based, so a PARAPHRASED eval item (reworded benchmark question
# — different tokens, same meaning, near-identical embedding) passes
# every one of them. This pass catches it in embedding space.
#
# The random fixture has no natural cross-side cosine >= 0.95, so —
# exactly like `dedup_embedding_cosine_planted` — the query derives a
# fixture WITH known paraphrase leaks inside the query: the first
# SEM_PLANT_N eval-slice vectors (vec_id % 7 == 0, the slice every
# decontam query audits) are re-added under offset ids on the TRAIN
# side (offset % 7 == 2), each dimension scaled by a positive
# deterministic factor in {1.0, 1.1, 1.2}. Positive scaling preserves
# every sign bit, so each planted "paraphrase" lands in its eval
# original's LSH bucket with cosine >= ~0.9959; the banding, the
# cross-side broadcast join, the norm arithmetic, and the threshold
# gate are all exercised with rows > 0 at every test scale.
SEM_DECONTAM_THRESHOLD = 0.95
SEM_PLANT_N = 20
SEM_PLANT_OFFSET = 2_000_000  # % 7 == 2 → plants land TRAIN-side


def _semantic_leak_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    plants = (
        base.filter(
            ((F.col("vec_id") % 7) == 0)
            & (F.col("vec_id") < 7 * SEM_PLANT_N)
        )
        # Two selects: the factor's vec_id must be the ORIGINAL id — in
        # a single projection the lambda's F.col("vec_id") resolves to
        # the offset output column (the dedup_embedding_cosine_planted
        # gotcha).
        .select(
            "vec_id",
            F.transform(
                F.col("embedding"),
                lambda x, i: x
                * (
                    F.lit(1.0)
                    + F.lit(0.1) * ((i + F.col("vec_id")) % 3).cast("double")
                ),
            ).alias("embedding"),
        )
        .select(
            (F.col("vec_id") + F.lit(SEM_PLANT_OFFSET)).alias("vec_id"),
            "embedding",
        )
    )
    return base.unionByName(plants)


def decontaminate_eval_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC benchmark decontamination — the embedding-space pass
    that catches paraphrased eval leakage the token-based family
    provably misses (see tests/test_llm_ops.py's planted-paraphrase
    test: different tokens, no shared 13-gram, no shared >=20-token
    span, near-identical embedding — flagged here, invisible to
    `decontaminate_eval_ngram13` and `decontaminate_eval_substring`).

    Engine: `operators/similarity.py:cross_cosine_pairs_multi` —
    train-side vectors scored against the eval slice's vectors where
    ANY of the 10 5-bit sign-signature LSH tables collide
    (OR-amplification, knn_lsh's layout: at cosine 0.95 a single
    32-bit table keeps only ~5% of real near-dups, 10 narrow tables
    ~99.99% — measured by `decontaminate_semantic_recall_vs_exact`),
    verified with exact cosine at >= 0.95. Per flagged training doc:
    how many eval items it semantically duplicates and the worst
    cosine.

    100 TB shape: the eval side is a benchmark suite — thousands of
    rows, not corpus-scale — so it BROADCASTS and the corpus streams
    its 10 table keys through the bucket probe map-side; the only
    shuffle is the pair-level distinct."""
    e = _semantic_leak_embeddings(spark, sf_dir)
    train = e.filter((F.col("vec_id") % 7) != 0)
    eval_side = e.filter((F.col("vec_id") % 7) == 0)
    pairs = sim.cross_cosine_pairs_multi(
        train, eval_side, threshold=SEM_DECONTAM_THRESHOLD, broadcast_b=True
    )
    return pairs.groupBy(F.col("id_a").alias("doc_id")).agg(
        F.count("*").alias("n_eval_matches"),
        F.max("sim").alias("max_cosine"),
    )


_SEM_DECONTAM_SQL = f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
),
plants AS (
  SELECT vec_id + {SEM_PLANT_OFFSET} AS vec_id,
         [vec[i + 1] * (1.0 + 0.1 * CAST((i + vec_id) % 3 AS DOUBLE))
          for i in range(len(vec))] AS vec
  FROM base WHERE vec_id % 7 = 0 AND vec_id < {7 * SEM_PLANT_N}
),
e AS (SELECT * FROM base UNION ALL SELECT * FROM plants),
tr AS (SELECT * FROM e WHERE vec_id % 7 <> 0),
ev AS (SELECT * FROM e WHERE vec_id % 7 = 0),
ta AS ({_lsh_tables_sql('tr', 'id_a')}),
tb AS ({_lsh_tables_sql('ev', 'id_b')}),
x AS (
  SELECT DISTINCT t.id_a AS doc_id, v.id_b, round({{cos}}, 6) AS sim
  FROM ta t JOIN tb v ON t.tbl = v.tbl AND t.sig = v.sig
  WHERE {{cos}} >= {SEM_DECONTAM_THRESHOLD}
)
SELECT doc_id, count(*) AS n_eval_matches, max(sim) AS max_cosine
FROM x GROUP BY doc_id
""".format(cos=_cosine_sql("t.vec", "v.vec"))


register(
    "decontaminate_eval_semantic", decontaminate_eval_semantic, _SEM_DECONTAM_SQL
)


SEM_PLANT_OFFSET2 = 3_000_000  # % 7 == 3 → adversarial plants land TRAIN-side


def _semantic_cert_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-cert fixture: the registered query's wobble plants
    PLUS adversarial near-miss plants — same positive wobble, but the
    lowest-|x| dimension among the 32 signature dims sign-flipped, so
    the vector provably leaves its eval original's LSH bucket while
    losing only ~2× that dim's mass share of cosine. Whether each
    lands above or below the 0.95 threshold is data-determined — that
    is the point: the cert MEASURES what single-table sign-LSH misses
    instead of assuming it."""
    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    ev = base.filter(
        ((F.col("vec_id") % 7) == 0) & (F.col("vec_id") < 7 * SEM_PLANT_N)
    )
    absf = F.transform(
        F.slice(F.col("embedding"), 1, sim.SIG_BITS), lambda x: F.abs(x)
    )
    with_pos = ev.select(
        "vec_id",
        "embedding",
        F.array_position(absf, F.array_min(absf)).alias("fpos"),
    )
    plants2 = with_pos.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x, i: (
                x
                * (
                    F.lit(1.0)
                    + F.lit(0.1) * ((i + F.col("vec_id")) % 3).cast("double")
                )
            )
            * F.when(i + F.lit(1) == F.col("fpos"), F.lit(-1.0)).otherwise(
                F.lit(1.0)
            ),
        ).alias("embedding"),
    ).select(
        (F.col("vec_id") + F.lit(SEM_PLANT_OFFSET2)).alias("vec_id"), "embedding"
    )
    return _semantic_leak_embeddings(spark, sf_dir).unionByName(plants2)


def decontaminate_semantic_recall_vs_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pair-level recall certification of the semantic decontamination
    pass, BOTH bucketing designs audited against the EXACT brute-force
    cross-side cosine baseline at the same 0.95 threshold, on a
    fixture that contains in-bucket paraphrase plants (the registered
    query's) and adversarial sign-flipped near-misses
    (`_semantic_cert_embeddings`). One summary row: how many true
    cross-side pairs exist; the single-table 32-bit pass's recall and
    its highest-cosine miss (~0.5 / ~0.998 — every adversarial flip
    leaves its bucket); and the production multi-table pass's recall
    (`cross_cosine_pairs_multi`, the one `decontaminate_eval_semantic`
    runs — a flip kills exactly 1 of the 10 tables, the other 9 still
    collide, so recall is 1.0 here). Precision needs no audit: bucket
    collisions are verified with exact cosine before emission, so both
    bucketed sets ⊆ exact.

    Scale: the exact side is a |train|×|eval| brute force — this cert
    runs at test scale as ground truth (the eval side broadcasts); at
    100 TB you certify on a sampled train stratum, the bucketed
    passes themselves stay linear."""
    e = _semantic_cert_embeddings(spark, sf_dir)
    train = e.filter((F.col("vec_id") % 7) != 0)
    eval_side = e.filter((F.col("vec_id") % 7) == 0)
    single = sim.cross_cosine_pairs(
        train, eval_side, threshold=SEM_DECONTAM_THRESHOLD, broadcast_b=True
    )
    multi = sim.cross_cosine_pairs_multi(
        train, eval_side, threshold=SEM_DECONTAM_THRESHOLD, broadcast_b=True
    )
    t = train.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("vec_a")
    ).withColumn("n_a", sim.l2_norm(F.col("vec_a")))
    v = eval_side.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vec_b")
    ).withColumn("n_b", sim.l2_norm(F.col("vec_b")))
    exact = (
        t.crossJoin(F.broadcast(v))
        .withColumn(
            "sim",
            sim.cosine_norm(
                F.col("vec_a"), F.col("vec_b"), F.col("n_a"), F.col("n_b")
            ),
        )
        .filter(F.col("sim") >= SEM_DECONTAM_THRESHOLD)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
        .persist()
    )
    # Overlap the brute-force exact side with the two bucketed passes
    # (guide 2.6; see _recall_at_5).
    wait_exact = materialize_async(exact)
    single = single.persist()
    multi = multi.persist()
    materialize(single)
    materialize(multi)
    wait_exact()
    marked = exact.join(
        single.select("id_a", "id_b", F.lit(1).alias("f_s")),
        ["id_a", "id_b"],
        "left",
    ).join(
        multi.select("id_a", "id_b", F.lit(1).alias("f_m")),
        ["id_a", "id_b"],
        "left",
    )
    hit = lambda c: F.coalesce(F.sum(F.coalesce(F.col(c), F.lit(0))), F.lit(0)).cast("long")  # noqa: E731
    per = marked.agg(
        F.count(F.lit(1)).alias("n_exact_pairs"),
        hit("f_s").alias("n_recalled_single"),
        F.max(F.when(F.col("f_s").isNull(), F.col("sim"))).alias(
            "max_missed_single"
        ),
        hit("f_m").alias("n_recalled_multi"),
    )
    ratio = lambda c: F.round(  # noqa: E731
        F.when(F.col("n_exact_pairs") > 0, F.col(c) / F.col("n_exact_pairs")), 6
    )
    return per.select(
        "n_exact_pairs",
        "n_recalled_single",
        ratio("n_recalled_single").alias("recall_single"),
        "max_missed_single",
        "n_recalled_multi",
        ratio("n_recalled_multi").alias("recall_multi"),
    )


_SEM_RECALL_SQL = f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
),
plants AS (
  SELECT vec_id + {SEM_PLANT_OFFSET} AS vec_id,
         [vec[i + 1] * (1.0 + 0.1 * CAST((i + vec_id) % 3 AS DOUBLE))
          for i in range(len(vec))] AS vec
  FROM base WHERE vec_id % 7 = 0 AND vec_id < {7 * SEM_PLANT_N}
),
plants2 AS (
  SELECT vec_id + {SEM_PLANT_OFFSET2} AS vec_id,
         [(vec[i + 1] * (1.0 + 0.1 * CAST((i + vec_id) % 3 AS DOUBLE)))
          * (CASE WHEN i + 1 = fpos THEN -1.0 ELSE 1.0 END)
          for i in range(len(vec))] AS vec
  FROM (
    SELECT vec_id, vec, list_indexof(la, list_min(la)) AS fpos
    FROM (
      SELECT vec_id, vec, list_transform(vec[1:{sim.SIG_BITS}], x -> abs(x)) AS la
      FROM base WHERE vec_id % 7 = 0 AND vec_id < {7 * SEM_PLANT_N}
    )
  )
),
e AS (
  SELECT vec_id, vec, {{sig}} AS sig
  FROM (SELECT * FROM base UNION ALL SELECT * FROM plants
        UNION ALL SELECT * FROM plants2)
),
tr AS (SELECT * FROM e WHERE vec_id % 7 <> 0),
ev AS (SELECT * FROM e WHERE vec_id % 7 = 0),
ex AS (
  SELECT t.vec_id AS id_a, v.vec_id AS id_b, round({{cos}}, 6) AS sim
  FROM tr t JOIN ev v ON {{cos}} >= {SEM_DECONTAM_THRESHOLD}
),
bk_s AS (
  SELECT t.vec_id AS id_a, v.vec_id AS id_b
  FROM tr t JOIN ev v ON t.sig = v.sig
  WHERE {{cos}} >= {SEM_DECONTAM_THRESHOLD}
),
ta AS ({_lsh_tables_sql('tr', 'id_a')}),
tb AS ({_lsh_tables_sql('ev', 'id_b')}),
bk_m AS (
  SELECT DISTINCT t.id_a, v.id_b
  FROM ta t JOIN tb v ON t.tbl = v.tbl AND t.sig = v.sig
  WHERE {{cos}} >= {SEM_DECONTAM_THRESHOLD}
),
j AS (
  SELECT ex.sim, s.id_a AS hit_s, m.id_a AS hit_m
  FROM ex
  LEFT JOIN bk_s s ON ex.id_a = s.id_a AND ex.id_b = s.id_b
  LEFT JOIN bk_m m ON ex.id_a = m.id_a AND ex.id_b = m.id_b
)
SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
       CAST(coalesce(sum(CASE WHEN hit_s IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_recalled_single,
       round(coalesce(sum(CASE WHEN hit_s IS NOT NULL THEN 1 ELSE 0 END), 0)
             / nullif(count(*), 0), 6) AS recall_single,
       max(CASE WHEN hit_s IS NULL THEN sim END) AS max_missed_single,
       CAST(coalesce(sum(CASE WHEN hit_m IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_recalled_multi,
       round(coalesce(sum(CASE WHEN hit_m IS NOT NULL THEN 1 ELSE 0 END), 0)
             / nullif(count(*), 0), 6) AS recall_multi
FROM j
""".format(sig=_sig_sql("vec"), cos=_cosine_sql("t.vec", "v.vec"))


register(
    "decontaminate_semantic_recall_vs_exact",
    decontaminate_semantic_recall_vs_exact,
    _SEM_RECALL_SQL,
)
