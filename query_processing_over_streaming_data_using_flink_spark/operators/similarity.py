"""Similarity search over embedding columns (driver mandate,
SURVEY.md §2.11): brute-force cosine top-k as the exactness baseline,
and a bucketed LSH variant as the 100 TB scale path.

Both are pure DataFrame compositions: the dot product is
`F.zip_with` + `F.aggregate` over `array<double>` (JVM-side, no
Python), so the plans stay inside whole-stage codegen. The LSH variant
replaces the all-pairs join with an equi-join on a sign-bit signature —
at scale that's the difference between O(n·q) and O(n·q/2^b) with the
same top-k semantics on the probed bucket.

Float determinism: embeddings are float32; both engines cast to double
and accumulate left-to-right over the array, giving bit-identical sums
(the DuckDB oracle mirrors the same expression shape — element-wise
product list, then ordered sum).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Sign bits for the near-dup pair bucketing (round-2 scale fix: 8 bits
# = 256 buckets put ~4M vectors per bucket at 10^9 vectors, and the
# within-bucket self-join went quadratic — ~8·10^12 candidate pairs per
# bucket. 32 bits = 2^32 buckets ⇒ expected bucket size 10^9/2^32 ≈
# 0.25, so the self-join output is ~collision pairs only, linear in n.
# Near-identical vectors still collide: they agree on every sign bit
# unless a component is within noise of zero.)
SIG_BITS = 32

# Multi-table LSH for ANN: OR-amplification across L tables of r sign
# bits each (table t reads dims [t·r, t·r+r)). With per-hyperplane
# agreement p = 1 - θ/π, recall ≈ 1-(1-p^r)^L — tuned for weakly
# clustered data (top-neighbor cosine ~0.3 in the fixtures → ~60%
# recall); strongly clustered corpora prune much harder.
LSH_TABLES = 10
LSH_BITS = 5


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_norm(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """`cosine` with the per-side norms PRECOMPUTED once per row
    instead of once per pair — `sqrt(Σx²)` of the same array is the
    same double wherever it's evaluated, and the a-norm × b-norm
    operand order is preserved, so the result is bit-equal to
    `cosine(a, b)` while the pairwise scan stops paying 2 of its 3
    array folds."""
    return dot(a, b) / (na * nb)


def sign_signature(a: Column, bits: int = SIG_BITS, offset: int = 0) -> Column:
    """Axis-aligned hyperplane LSH: bit i = sign(embedding[offset+i]).
    Deterministic, reproducible in SQL; for production swap in fixed
    pseudo-random hyperplanes (same construction, different constants).
    """
    out = F.lit(0)
    for i in range(bits):
        out = out + F.when(F.element_at(a, offset + i + 1) > 0, F.lit(1 << i)).otherwise(0)
    return out


def _lsh_tables(vec: Column) -> Column:
    """Array of (table, signature) structs — one entry per LSH table."""
    return F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                sign_signature(vec, LSH_BITS, t * LSH_BITS).alias("sig"),
            )
            for t in range(LSH_TABLES)
        ]
    )


def _vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id_col, vec_col array<double>) from a (vec_id, embedding) frame."""
    return df.select(
        F.col("vec_id").alias(id_col), _as_double(F.col("embedding")).alias(vec_col)
    )


def _top_k(scored: DataFrame, k: int, score: str) -> DataFrame:
    """(q_id, n_id, rank, score): each query's `k` best rows by
    `score`, ties → lower n_id, the score rounded to 6 places — the
    ranking step every search here ends with."""
    w = Window.partitionBy("q_id").orderBy(F.desc(score), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", F.round(score, 6).alias(score))
    )


def knn_bruteforce(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (excluding
    self): broadcast the queries, score every (query, candidate) pair,
    keep k by row_number. The baseline/oracle for the ANN variants.

    Scale: broadcast-join (queries are small by construction) → no
    shuffle of the big side; the only shuffle is the per-query top-k,
    which AQE sizes by q·n/partitions."""
    q = _vectors(queries, "q_id", "q_vec").withColumn("q_n", l2_norm(F.col("q_vec")))
    c = _vectors(embeddings, "n_id", "n_vec").withColumn("n_n", l2_norm(F.col("n_vec")))
    scored = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("n_id"))
        .withColumn(
            "sim",
            cosine_norm(
                F.col("q_vec"), F.col("n_vec"), F.col("q_n"), F.col("n_n")
            ),
        )
    )
    return _top_k(scored, k, "sim")


def knn_bruteforce_dot(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Exact top-k INNER-PRODUCT neighbors — the baseline the PQ-ADC
    search approximates (PQ's native measure is the dot product).
    Same plan shape as `knn_bruteforce`."""
    q = _vectors(queries, "q_id", "q_vec")
    c = _vectors(embeddings, "n_id", "n_vec")
    scored = c.join(F.broadcast(q), F.col("q_id") != F.col("n_id")).withColumn(
        "score", dot(F.col("q_vec"), F.col("n_vec"))
    )
    return _top_k(scored, k, "score")


def knn_lsh(embeddings: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Approximate top-k via multi-table LSH: a candidate is any vector
    sharing ≥1 table's signature with the query (OR-amplification),
    then exact cosine rank within the candidate set. Same output shape
    as `knn_bruteforce`; recall measured in tests.

    Scale: candidates arrive through an equi-join on (table, signature)
    — never an all-pairs product; table count L and width r trade
    recall against candidate volume."""
    q = (
        _vectors(queries, "q_id", "q_vec")
        .withColumn("q_n", l2_norm(F.col("q_vec")))
        .select(
            "q_id", "q_vec", "q_n",
            F.explode(_lsh_tables(F.col("q_vec"))).alias("t"),
        )
        .select("q_id", "q_vec", "q_n", "t.tbl", "t.sig")
    )
    c = (
        _vectors(embeddings, "n_id", "n_vec")
        .withColumn("n_n", l2_norm(F.col("n_vec")))
        .select(
            "n_id", "n_vec", "n_n",
            F.explode(_lsh_tables(F.col("n_vec"))).alias("t"),
        )
        .select("n_id", "n_vec", "n_n", "t.tbl", "t.sig")
    )
    candidates = (
        c.join(F.broadcast(q), ["tbl", "sig"])
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "q_vec", "q_n", "n_id", "n_vec", "n_n")
        .distinct()
    )
    scored = candidates.withColumn(
        "sim",
        cosine_norm(F.col("q_vec"), F.col("n_vec"), F.col("q_n"), F.col("n_n")),
    )
    return _top_k(scored, k, "sim")


def knn_bruteforce_pandas(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """`knn_bruteforce` with the cosine computed by a vectorized
    Arrow-batched pandas_udf (numpy) instead of Catalyst lambdas — the
    §2.10 UDF surface done right: batch columnar transfer, no
    row-at-a-time Python. Same outputs (numpy's pairwise summation
    differs from a sequential fold only in the last ulp)."""

    @F.pandas_udf("double")
    def cos_batch(a: pd.Series, b: pd.Series) -> pd.Series:
        av = np.stack(a.to_numpy())
        bv = np.stack(b.to_numpy())
        return pd.Series(
            (av * bv).sum(axis=1)
            / (np.linalg.norm(av, axis=1) * np.linalg.norm(bv, axis=1))
        )

    q = _vectors(queries, "q_id", "q_vec")
    c = _vectors(embeddings, "n_id", "n_vec")
    scored = c.join(F.broadcast(q), F.col("q_id") != F.col("n_id")).withColumn(
        "sim", cos_batch(F.col("q_vec"), F.col("n_vec"))
    )
    return _top_k(scored, k, "sim")


def cosine_dup_pairs(embeddings: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed: only pairs
    sharing the sign signature are scored (near-identical vectors agree
    on sign bits with overwhelming probability)."""
    e = embeddings.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("vec"),
        sign_signature(_as_double(F.col("embedding"))).alias("sig"),
    ).withColumn("n", l2_norm(F.col("vec")))
    a = e.select(
        F.col("sig"), F.col("vec_id").alias("id_a"),
        F.col("vec").alias("vec_a"), F.col("n").alias("n_a"),
    )
    b = e.select(
        F.col("sig"), F.col("vec_id").alias("id_b"),
        F.col("vec").alias("vec_b"), F.col("n").alias("n_b"),
    )
    return (
        a.join(b, ["sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "sim",
            cosine_norm(F.col("vec_a"), F.col("vec_b"), F.col("n_a"), F.col("n_b")),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )


def cross_cosine_pairs(
    a_embeddings: DataFrame,
    b_embeddings: DataFrame,
    threshold: float = 0.95,
    broadcast_b: bool = True,
) -> DataFrame:
    """Cross-side embedding-cosine pairs — the semantic analogue of
    `dedup.cross_side_minhash_pairs`: side A vectors are scored against
    side B vectors ONLY where the 32-sign-bit LSH signatures collide
    (near-identical vectors agree on sign bits with overwhelming
    probability, so a semantic near-copy of a B vector lands in its
    bucket), candidates verified with exact cosine. Both inputs are
    (vec_id, embedding) frames; returns one row per verified cross
    pair (id_a from A, id_b from B, sim).

    Scale: in the decontamination use the B side is the EVAL/benchmark
    suite — tiny by construction — so it broadcasts (default) and the
    corpus-sized A side streams map-side: zero shuffle of the big
    side, candidate volume bounded by bucket collisions. Pass
    ``broadcast_b=False`` for two corpus-scale sides, where the sig
    equi-join becomes the one (narrow, 8-byte-key) shuffle."""
    a = (
        _vectors(a_embeddings, "id_a", "vec_a")
        .withColumn("sig", sign_signature(F.col("vec_a")))
        .withColumn("n_a", l2_norm(F.col("vec_a")))
    )
    b = (
        _vectors(b_embeddings, "id_b", "vec_b")
        .withColumn("sig", sign_signature(F.col("vec_b")))
        .withColumn("n_b", l2_norm(F.col("vec_b")))
    )
    return (
        a.join(F.broadcast(b) if broadcast_b else b, ["sig"])
        .withColumn(
            "sim",
            cosine_norm(F.col("vec_a"), F.col("vec_b"), F.col("n_a"), F.col("n_b")),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )


def cross_cosine_pairs_multi(
    a_embeddings: DataFrame,
    b_embeddings: DataFrame,
    threshold: float = 0.95,
    broadcast_b: bool = True,
) -> DataFrame:
    """Multi-table (OR-amplified) cross-side cosine pairs — the
    production-recall form of `cross_cosine_pairs`: a candidate is any
    A vector sharing ≥1 of the 10 5-bit sign-signature tables with a
    B vector (`_lsh_tables` — knn_lsh's layout), verified with exact
    cosine. The single-table 32-bit form misses REAL near-duplicates
    badly at production thresholds: per-bit sign agreement at cosine
    0.95 is ~0.91, so all 32 bits agree with probability ~0.05, and
    the registered recall cert measures even the adversarial
    single-bit-flip case at 0.5 — OR-amplification over 10 narrow
    tables takes the all-tables-miss probability to
    (1 − 0.91⁵)^10 ≈ 1e-4 while candidates stay an equi-join.
    A pair colliding in several tables is folded by a pair-level
    distinct before emission (`sim` is the same arithmetic in every
    copy, so the distinct is exact). Same scale shape as the
    single-table form: the B side broadcasts (benchmark-sized in the
    decontamination use), the A side streams its 10 (table, sig) keys
    map-side, and the only shuffle is the pair-level distinct."""
    a = (
        _vectors(a_embeddings, "id_a", "vec_a")
        .withColumn("n_a", l2_norm(F.col("vec_a")))
        .select(
            "id_a", "vec_a", "n_a",
            F.explode(_lsh_tables(F.col("vec_a"))).alias("t"),
        )
        .select("id_a", "vec_a", "n_a", "t.tbl", "t.sig")
    )
    b = (
        _vectors(b_embeddings, "id_b", "vec_b")
        .withColumn("n_b", l2_norm(F.col("vec_b")))
        .select(
            "id_b", "vec_b", "n_b",
            F.explode(_lsh_tables(F.col("vec_b"))).alias("t"),
        )
        .select("id_b", "vec_b", "n_b", "t.tbl", "t.sig")
    )
    return (
        a.join(F.broadcast(b) if broadcast_b else b, ["tbl", "sig"])
        .withColumn(
            "sim",
            cosine_norm(F.col("vec_a"), F.col("vec_b"), F.col("n_a"), F.col("n_b")),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
        .distinct()
    )


# IVF-flat coarse quantizer: cells seeded by vec_id % IVF_CELLS, then
# IVF_REFINE Lloyd rounds (re-assign to nearest centroid, re-aggregate
# — the same single aggregate repeated, no driver loop over data).
# Centroid components are QUANTIZED SUMS (floor(x·2^20) accumulated as
# integers): cosine is scale-invariant, so sum ≡ mean for ranking, the
# integer aggregation is associative (bit-identical in any engine or
# partitioning — floats aren't), and floor (unlike round) has no .5
# ties to disagree on. Assignment ties break on lower cell id, so the
# refinement round is deterministic end-to-end too.
IVF_CELLS = 16
IVF_NPROBE = 4
IVF_QUANT = 1 << 20
IVF_REFINE = 1


def _centroid_sums(assigned: DataFrame) -> DataFrame:
    """(cell, cvec) from (cell, vec) assignments: one posexplode + one
    (cell, dim) hash aggregate — a single narrow shuffle at any scale."""
    comp = assigned.select("cell", F.posexplode("vec").alias("dim", "x"))
    agg = comp.groupBy("cell", "dim").agg(
        F.sum(F.floor(F.col("x") * IVF_QUANT).cast("long")).alias("s")
    )
    return agg.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "s"))), lambda t: t["s"].cast("double")
        ).alias("cvec")
    )


def ivf_centroids(
    embeddings: DataFrame, cells: int = IVF_CELLS, refine: int = IVF_REFINE
) -> DataFrame:
    """(cell, cvec array<double>) — the coarse quantizer table. Seeded
    by `vec_id % cells`, then `refine` Lloyd rounds: re-assign every
    vector to its nearest current centroid (broadcast centroids — no
    corpus shuffle), repeat the quantized aggregate. Each round is one
    linear corpus pass; cells emptied by a round simply vanish (their
    inverted list would be empty anyway)."""
    corpus = _vectors(embeddings, "id", "vec")
    cents = _centroid_sums(corpus.withColumn("cell", (F.col("id") % cells)))
    for _ in range(refine):
        cents = _centroid_sums(_nearest_cells(corpus, cents, 1))
    return cents


def _nearest_cells(vectors: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """Keep each vector's `nprobe` closest cells (cosine, ties → lower
    cell). `vectors` must have columns (id, vec).

    nprobe == 1 (every corpus-side assignment: centroid refinement,
    inverted-list builds) is an argmax per id — computed as a
    map-side-combinable `max_by` over the same (csim DESC, cell ASC)
    total order instead of a row_number window, so the shuffle carries
    one pre-reduced row per (id, partition) rather than sorting the
    |corpus|×|cells| candidate blow-up (NaN sorts greatest in both
    forms, identical tie-breaks — bit-equal output, cheaper exchange).
    NULL caveat: if csim were NULL for ALL of an id's rows, max_by
    skips NULL-ordered rows (NULL vec/cell) where the window form
    still emits a real row — unreachable here because embeddings are
    non-null by schema and cosine_norm of non-null doubles is never
    NULL, but don't reuse this rewrite where the score can be NULL."""
    scored = (
        vectors.withColumn("vn", l2_norm(F.col("vec")))
        .crossJoin(F.broadcast(cents.withColumn("cn", l2_norm(F.col("cvec")))))
        .withColumn(
            "csim",
            cosine_norm(F.col("vec"), F.col("cvec"), F.col("vn"), F.col("cn")),
        )
    )
    if nprobe == 1:
        best = scored.groupBy("id").agg(
            F.max_by(
                F.struct(F.col("vec").alias("vec"), F.col("cell").alias("cell")),
                F.struct(F.col("csim").alias("csim"), (-F.col("cell")).alias("nc")),
            ).alias("b")
        )
        return best.select(
            "id", F.col("b.vec").alias("vec"), F.col("b.cell").alias("cell")
        )
    w = Window.partitionBy("id").orderBy(F.desc("csim"), F.asc("cell"))
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= nprobe)
        .select("id", "vec", "cell")
    )


# Product quantization (PQ) — the MEMORY-bound ANN path: a 64-dim
# float vector (256 B) compresses to PQ_M byte codes (8 B at M=8,
# K=256 — the FAISS-standard PQ8x8, 32× compression), so a
# 10^9-vector index fits where raw vectors cannot. Deterministic like
# the IVF quantizer: integer-quantized component sums, exact
# integer/integer mean division, fixed fold orders — the whole
# train/encode/search chain is oracle-checkable.
PQ_M = 8       # subspaces
PQ_K = 256     # codes per subspace (byte codes)
PQ_QUANT = IVF_QUANT


def l2_sq(a: Column, b: Column) -> Column:
    """Σ (a_i − b_i)² with a fixed left-to-right fold (engine-exact)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_components(embeddings: DataFrame, m: int) -> DataFrame:
    """(id, s, sdim, x): each vector component tagged with its subspace
    s = (dim·m) ÷ d and intra-subspace index — pure integer arithmetic,
    identical in the SQL oracle."""
    return embeddings.select(
        F.col("vec_id").alias("id"),
        F.posexplode(_as_double(F.col("embedding"))).alias("dim", "x"),
        F.size(_as_double(F.col("embedding"))).alias("d"),
    ).select(
        "id",
        F.expr(f"(dim * {m}) DIV d").alias("s"),
        F.expr(f"dim - ((dim * {m}) DIV d) * d DIV {m}").alias("sdim"),
        "x",
    )


def _pq_subvectors(embeddings: DataFrame, m: int) -> DataFrame:
    """(id, s, sub array<double>): the vector split into m subvectors."""
    return (
        _pq_components(embeddings, m)
        .groupBy("id", "s")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sdim", "x"))), lambda t: t["x"]
            ).alias("sub")
        )
    )


def _pq_books(subs: DataFrame, assign: DataFrame, quant: int) -> DataFrame:
    """(s, code, cvec): per-subspace MEAN centroids from an (id, s,
    code) assignment — exact integer sums divided by exact counts in
    one fixed expression (L2 needs means, not the IVF's scale-free
    sums). The assignment joins the (id, s, sub) SUBVECTOR rows (m
    per vector) and explodes components after — the same aggregate
    over the same values, with a join shuffle d/m× smaller than
    joining the per-component rows (the position within `sub` IS the
    within-subspace index the components were sorted by, for every
    doc alike, so grouping by it is grouping by sdim)."""
    agg = (
        subs.join(assign, ["id", "s"])
        .select("s", "code", F.posexplode("sub").alias("sdim", "x"))
        .groupBy("s", "code", "sdim")
        .agg(
            F.sum(F.floor(F.col("x") * quant).cast("long")).alias("sv"),
            F.count("*").alias("n"),
        )
    )
    return (
        agg.select(
            "s",
            "code",
            "sdim",
            (F.col("sv").cast("double") / F.col("n") / F.lit(float(quant))).alias("v"),
        )
        .groupBy("s", "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sdim", "v"))), lambda t: t["v"]
            ).alias("cvec")
        )
    )


def _pq_assign(subs: DataFrame, books: DataFrame) -> DataFrame:
    """(id, s, code): nearest codebook entry per subvector (min L2,
    ties → lower code). Books are broadcast (m·K tiny rows). The
    argmin is a map-side-combinable `min_by` over the (d2 ASC, code
    ASC) total order — the |corpus|·m·K scored rows reduce to one
    candidate per (id, s) per partition BEFORE the exchange, where a
    row_number window would sort the whole blow-up (same tie-breaks,
    bit-equal assignment)."""
    scored = subs.join(F.broadcast(books), "s").withColumn(
        "d2", l2_sq(F.col("sub"), F.col("cvec"))
    )
    return scored.groupBy("id", "s").agg(
        F.min_by("code", F.struct(F.col("d2").alias("d2"), F.col("code").alias("code")))
        .alias("code")
    )


def pq_codebooks(
    embeddings: DataFrame, m: int = PQ_M, k: int = PQ_K, refine: int = 1
) -> DataFrame:
    """Train per-subspace PQ codebooks: seed code = vec_id % k, then
    `refine` Lloyd rounds (re-assign by min subvector L2, re-average).
    Each round is one linear corpus pass against broadcast books. Only
    the (id, s, sub) subvector table is persisted — it feeds the
    averaging AND every re-assignment; the per-component form is never
    materialized separately."""
    subs = _pq_subvectors(embeddings, m).persist()
    assign = subs.select("id", "s", (F.col("id") % k).alias("code"))
    books = _pq_books(subs, assign, PQ_QUANT)
    for _ in range(refine):
        books = _pq_books(subs, _pq_assign(subs, books), PQ_QUANT)
    return books


def pq_encode(embeddings: DataFrame, books: DataFrame, m: int = PQ_M) -> DataFrame:
    """(id, s, code): the compressed corpus — m small ints per vector
    (the 100 TB point: codes are what the search scans; raw vectors
    are only ever read once, at encode time)."""
    return _pq_assign(_pq_subvectors(embeddings, m), books)


def _pq_lut(queries: DataFrame, books: DataFrame, m: int) -> DataFrame:
    """(q_id, s, code, part): each query's ADC lookup table — the dot
    of its subvector `s` with every codebook entry of subspace `s`
    (m·K rows per query, broadcast by every scan that reads it)."""
    return _pq_subvectors(queries, m).join(F.broadcast(books), "s").select(
        F.col("id").alias("q_id"),
        "s",
        "code",
        dot(F.col("sub"), F.col("cvec")).alias("part"),
    )


def _adc_scores(pairs: DataFrame) -> DataFrame:
    """(q_id, n_id, score) from (q_id, n_id, s, part) rows: the
    approximate inner product Σ_s part, folded in fixed subspace order
    (no float-merge nondeterminism)."""
    return pairs.groupBy("q_id", "n_id").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "part"))),
                lambda t: t["part"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("score")
    )


def knn_pq(
    embeddings: DataFrame, queries: DataFrame, k: int = 5, m: int = PQ_M
) -> DataFrame:
    """Approximate top-k by PQ asymmetric-distance computation (ADC):
    approx_dot(q, x) = Σ_s dot(q_s, codebook[s][code_s(x)]). Per query
    the LUT (m·K dot products against the codebooks) is broadcast; the
    scan touches only the code table, never raw vectors — FAISS
    PQ-flat, relationally. Returns (q_id, n_id, rank, score) — score
    is approximate INNER PRODUCT (the PQ-native measure), so the
    recall certification compares against exact-dot top-k."""
    books = pq_codebooks(embeddings, m).persist()
    codes = pq_encode(embeddings, books, m).withColumnRenamed("id", "n_id")
    pairs = codes.join(F.broadcast(_pq_lut(queries, books, m)), ["s", "code"]).filter(
        F.col("q_id") != F.col("n_id")
    )
    return _top_k(_adc_scores(pairs), k, "score")


# The IVF index, one copy of each step. Every batch search below and
# both streaming indexes (`streaming/ann_index.py`) run these, so a
# stream search equals the batch one because both run the same code:
#   train   ivf_centroids / pq_codebooks        → the quantizers;
#   lists   ivf_lists / ivfpq_lists             → (n_id, n_vec | s+code, cell);
#   search  ivf_search / adc_search             → top-k over probed cells;
#   rerank  exact_rerank                        → exact top-k of candidates.


def ivf_lists(embeddings: DataFrame, cents: DataFrame) -> DataFrame:
    """(n_id, n_vec, cell): the IVF-flat inverted lists — every
    (vec_id, embedding) row filed under its nearest centroid."""
    return _nearest_cells(_vectors(embeddings, "id", "vec"), cents, 1).select(
        F.col("id").alias("n_id"), F.col("vec").alias("n_vec"), "cell"
    )


def ivfpq_lists(
    embeddings: DataFrame, cents: DataFrame, books: DataFrame, m: int = PQ_M
) -> DataFrame:
    """(n_id, cell, s, code): the IVF-PQ inverted lists — they hold
    each vector's PQ CODES (`pq_encode`), not the vector, under its
    nearest centroid."""
    return (
        ivf_lists(embeddings, cents)
        .select("n_id", "cell")
        .join(pq_encode(embeddings, books, m).withColumnRenamed("id", "n_id"), "n_id")
    )


def _probes(queries: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """(q_id, q_vec, cell): each query's `nprobe` nearest cells."""
    return _nearest_cells(_vectors(queries, "id", "vec"), cents, nprobe).select(
        F.col("id").alias("q_id"), F.col("vec").alias("q_vec"), "cell"
    )


def _allowed(lists: DataFrame, allowed: DataFrame | None) -> DataFrame:
    """`lists` restricted to the ids `allowed` (one `id` column) names:
    a semi-join before any scoring, so one index serves many metadata
    filters (broadcast when the allowed set is small, AQE decides)."""
    if allowed is None:
        return lists
    return lists.join(allowed.select(F.col("id").alias("n_id")), "n_id", "left_semi")


def ivf_search(
    lists: DataFrame,
    cents: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Top-k cosine neighbors over IVF-flat `lists` (n_id, n_vec,
    cell): each (vec_id, embedding) query exact-scans only its
    `nprobe` closest cells, reached through an equi-join on `cell`
    against the broadcast probes. Returns (q_id, n_id, rank, sim).
    With a selective `allowed` filter, raise `nprobe` to hold recall —
    candidates per probe shrink by the filter's selectivity."""
    inv = _allowed(lists, allowed).withColumn("n_n", l2_norm(F.col("n_vec")))
    probes = _probes(queries, cents, nprobe).withColumn("q_n", l2_norm(F.col("q_vec")))
    scored = (
        inv.join(F.broadcast(probes), "cell")
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn(
            "sim",
            cosine_norm(F.col("q_vec"), F.col("n_vec"), F.col("q_n"), F.col("n_n")),
        )
    )
    return _top_k(scored, k, "sim")


def adc_search(
    lists: DataFrame,
    cents: DataFrame,
    books: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Top-k by ADC over IVF-PQ `lists` (n_id, cell, s, code): the
    code rows of each query's `nprobe` closest cells are scored
    against its broadcast LUT — neither raw vectors nor unprobed cells
    are touched. Returns (q_id, n_id, rank, score), score the
    approximate inner product."""
    probes = _probes(queries, cents, nprobe).select("q_id", "cell")
    pairs = (
        _allowed(lists, allowed)
        .join(F.broadcast(probes), "cell")
        .filter(F.col("q_id") != F.col("n_id"))
        .join(F.broadcast(_pq_lut(queries, books, m)), ["q_id", "s", "code"])
    )
    return _top_k(_adc_scores(pairs), k, "score")


def exact_rerank(
    cand: DataFrame, embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Top-k of the candidate (q_id, n_id) pairs re-scored with the
    EXACT inner product from raw (vec_id, embedding) rows. The
    candidate list (R·q rows) is broadcast against the corpus — no
    corpus shuffle, no all-pairs product. Returns (q_id, n_id, rank,
    score)."""
    scored = (
        _vectors(embeddings, "n_id", "n_vec")
        .join(F.broadcast(cand), "n_id")
        .join(F.broadcast(_vectors(queries, "q_id", "q_vec")), "q_id")
        .withColumn("score", dot(F.col("q_vec"), F.col("n_vec")))
    )
    return _top_k(scored, k, "score")


def knn_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    cells: int = IVF_CELLS,
    nprobe: int = IVF_NPROBE,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via IVF-flat: corpus vectors are inverted-
    listed under their nearest centroid; each query exact-scans only
    its `nprobe` closest cells. Same output shape as `knn_bruteforce`.
    `allowed` (one `id` column — e.g. doc_ids passing a lang/quality/
    licence predicate) keeps only those candidates: the index is built
    over the FULL corpus — one index, many filters.

    Scale: candidate volume is ~n·nprobe/cells per query instead of n,
    reached through an equi-join on `cell` — the centroid table is
    broadcast (cells ≪ corpus), the inverted lists are just a
    partitioning of the corpus, and nothing driver-side ever sees a
    vector. This is the relational rendering of FAISS IVF-flat."""
    cents = ivf_centroids(embeddings, cells).persist()
    return ivf_search(ivf_lists(embeddings, cents), cents, queries, k, nprobe, allowed)


def knn_ivfpq(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    cells: int = IVF_CELLS,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
) -> DataFrame:
    """IVF-PQ — the standard production index, composed from the two
    registered quantizers: the IVF coarse quantizer prunes the scan to
    each query's `nprobe` inverted lists, and within them the PQ codes
    are ADC-scored (approximate inner product) — so the search touches
    neither raw vectors nor unprobed cells. Candidate volume is
    ~n·nprobe/cells code rows per query at 8 B each: the shape that
    holds at 10^9 vectors. Returns (q_id, n_id, rank, score)."""
    cents = ivf_centroids(embeddings, cells).persist()
    books = pq_codebooks(embeddings, m).persist()
    # The two quantizer trainings are INDEPENDENT (coarse cells from
    # raw vectors; codebooks from subvectors) — materialize them as
    # concurrent jobs so one chain's Lloyd-round straggler tails
    # back-fill with the other's tasks (guide §2.6). No-op in explain
    # mode; identical centroid/codebook math either way.
    from query_processing_over_streaming_data_using_flink_spark.pin import (
        materialize_concurrently,
    )

    materialize_concurrently([cents, books])
    lists = ivfpq_lists(embeddings, cents, books, m)
    return adc_search(lists, cents, books, queries, k, nprobe, m)


#
# IVF-PQ + exact re-ranking ("IVFPQ+R") — the production composition:
# the ADC scan is cheap but lossy (code quantization costs ~0.1-0.2
# recall on weakly clustered data), so the standard fix is to keep the
# top RERANK ADC candidates per query and re-score exactly from raw
# vectors before taking the final k. The raw-vector fetch is one
# equi-join of the corpus against a broadcast candidate list (R·q
# rows — tiny), so at 10^9 vectors the index still never materializes
# more than R·q raw vectors per query batch. nprobe is raised vs the
# plain ADC search because re-ranking cannot recover a neighbor whose
# cell was never probed — cell-containment is the recall ceiling.
IVFPQ_RERANK = 50
IVFPQ_RERANK_NPROBE = 8


def knn_ivfpq_rerank(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int = IVFPQ_RERANK,
    cells: int = IVF_CELLS,
    nprobe: int = IVFPQ_RERANK_NPROBE,
    m: int = PQ_M,
) -> DataFrame:
    """IVF-PQ with exact re-ranking: ADC-rank the probed inverted
    lists (codes only), keep the top `rerank` per query, then re-score
    those candidates with the exact inner product from raw vectors and
    return the top `k`. Output shape matches `knn_bruteforce_dot`
    (q_id, n_id, rank, score) with `score` the EXACT dot product —
    only the candidate set is approximate.

    Scale: stage 1 is the codes-only IVF-PQ scan (8 B/vector); stage 2
    touches raw vectors for only R·q candidate rows."""
    cand = knn_ivfpq(
        embeddings, queries, k=rerank, cells=cells, nprobe=nprobe, m=m
    ).select("q_id", "n_id")
    return exact_rerank(cand, embeddings, queries, k)


def training_sample(
    embeddings: DataFrame, rate_ppm: int = 100_000, salt: str = "pqtrain"
) -> DataFrame:
    """Deterministic hash-sample of the embedding corpus for quantizer
    training (OPERATIONS.md sizing rule: at 10^9 vectors the codebooks
    and centroids are DISTRIBUTION statistics, not per-vector state —
    train them on a fraction and encode the full corpus). The draw is
    the engine's salted-md5 discipline: bit-identical across engines,
    partitionings, and retries, so a sample-trained index is as
    replayable as a full-trained one."""
    from query_processing_over_streaming_data_using_flink_spark.operators.text import sample_hash

    return embeddings.filter(
        sample_hash(F.col("vec_id"), salt, modulus=1_000_000) < rate_ppm
    )


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8) — the third quantizer next to IVF and PQ
# ---------------------------------------------------------------------------

SQ_LEVELS = 255  # byte codes 0..255


def sq8_bounds(embeddings: DataFrame) -> DataFrame:
    """Per-dimension (lo, hi) training statistics — the whole SQ8
    'model' is 2 doubles per dimension, one tiny aggregate over the
    corpus (map-side min/max partials; the shuffle carries d rows)."""
    comp = embeddings.select(
        F.posexplode(_as_double(F.col("embedding"))).alias("dim", "x")
    )
    return comp.groupBy("dim").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))


def sq8_encode(embeddings: DataFrame, bounds: DataFrame) -> DataFrame:
    """(vec_id, codes): each coordinate affinely mapped to a byte —
    4× compression at float32 ingest (8× at float64), and the scan
    side of the search never touches raw vectors again. Codes are
    reassembled in dimension order via an array_sort on (dim, code)
    structs, so the array layout is deterministic."""
    comp = embeddings.select(
        "vec_id", F.posexplode(_as_double(F.col("embedding"))).alias("dim", "x")
    )
    code = (
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("x") - F.col("lo"))
                    * F.lit(float(SQ_LEVELS))
                    / (F.col("hi") - F.col("lo"))
                ),
                F.lit(float(SQ_LEVELS)),
            )
        )
        .cast("int")
    )
    return (
        comp.join(F.broadcast(bounds), "dim")
        .select("vec_id", "dim", code.alias("code"))
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "code"))),
                lambda t: t["code"],
            ).alias("codes")
        )
    )


def knn_sq8(embeddings: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Approximate top-k inner product over SQ8 codes. The dot against
    a reconstructed vector is affine in the codes:

        dot(q, x̂) = Σ_d q_d·lo_d  +  Σ_d [q_d·(hi_d-lo_d)/255]·code_d

    so each query precomputes a per-dim weight array w and a scalar
    bias (both tiny, broadcast), and the scan folds integer codes
    against w in fixed index order — the SQ analogue of PQ's ADC LUT.
    Raw vectors are touched only at train/encode time; the searched
    relation is (id, 64 bytes). Returns (q_id, n_id, rank, score)."""
    bounds = sq8_bounds(embeddings)
    codes = sq8_encode(embeddings, bounds)
    qcomp = queries.select(
        F.col("vec_id").alias("q_id"),
        F.posexplode(_as_double(F.col("embedding"))).alias("dim", "x"),
    ).join(F.broadcast(bounds), "dim")
    qside = qcomp.groupBy("q_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "dim",
                        (
                            F.col("x")
                            * (F.col("hi") - F.col("lo"))
                            / F.lit(float(SQ_LEVELS))
                        ).alias("w"),
                    )
                )
            ),
            lambda t: t["w"],
        ).alias("w"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("dim", (F.col("x") * F.col("lo")).alias("b")))
                ),
                lambda t: t["b"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("bias"),
    )
    scored = codes.withColumnRenamed("vec_id", "n_id").join(
        F.broadcast(qside), F.col("q_id") != F.col("n_id")
    ).withColumn(
        "score",
        F.col("bias")
        + F.aggregate(
            F.zip_with(F.col("codes"), F.col("w"), lambda c, w: c * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    return _top_k(scored, k, "score")


def semantic_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.95
) -> DataFrame:
    """SemDeDup-style semantic near-dedup (Abbas et al. 2023, public):
    cluster the corpus with the trained IVF coarse quantizer, then
    compare pairs ONLY within a cluster — candidate generation by
    LEARNED partitioning instead of `cosine_dup_pairs`' random
    sign-bucket LSH. Semantically close vectors land in the same cell
    by construction, so the within-cell quadratic term is the
    per-cell occupancy (corpus/cells on balanced data), never the
    corpus — the same bounded-block discipline as every dedup path
    here. Returns (cell, id_a, id_b, sim ≥ threshold)."""
    assigned = ivf_lists(embeddings, ivf_centroids(embeddings)).withColumn(
        "n", l2_norm(F.col("n_vec"))
    )
    a = assigned.select(
        F.col("cell"), F.col("n_id").alias("id_a"),
        F.col("n_vec").alias("vec_a"), F.col("n").alias("n_a"),
    )
    b = assigned.select(
        F.col("cell"), F.col("n_id").alias("id_b"),
        F.col("n_vec").alias("vec_b"), F.col("n").alias("n_b"),
    )
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "sim",
            cosine_norm(F.col("vec_a"), F.col("vec_b"), F.col("n_a"), F.col("n_b")),
        )
        .filter(F.col("sim") >= threshold)
        .select("cell", "id_a", "id_b", F.round("sim", 6).alias("sim"))
    )


def mmr_select(
    embeddings: DataFrame,
    queries: DataFrame,
    k_pool: int = 20,
    k_select: int = 5,
    lam: float = 0.5,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998, public)
    re-ranking: from each query's top-`k_pool` exact candidates, greedily
    select `k_select` items maximizing
        λ·sim(q, d) − (1−λ)·max_{s∈selected} sim(d, s)
    — relevance minus redundancy, the standard retrieval
    diversification. The loop iterates SELECTION ROUNDS (k_select of
    them), not rows: each round is one anti-join (drop already-selected
    candidates), one candidate×selected cosine aggregate (≤ k_select
    rows per query on the selected side), and one per-query argmax
    window — all distributed, nothing driver-side except the round
    counter. Ties break on n_id; the empty-set penalty is 0, so round
    1's score is λ·sim. Returns (q_id, n_id, sel_round, score).

    Lineage discipline: each round references the previous selected set
    TWICE (anti-join + redundancy aggregate), so without truncation the
    plan tree doubles per round and the DRIVER (not the executors) dies
    formatting it — `localCheckpoint` on the pool and on every round's
    selected set keeps plan depth constant (the `dedup_clusters`
    pattern)."""
    pool = (
        knn_bruteforce(embeddings, queries, k=k_pool)
        .select("q_id", "n_id", "sim")
        .join(_vectors(embeddings, "n_id", "d_vec"), "n_id")
        .localCheckpoint()
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("mmr"), F.asc("n_id"))
    selected = (
        pool.withColumn("mmr", F.lit(lam) * F.col("sim"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "q_id", "n_id", F.lit(1).alias("sel_round"), F.col("mmr").alias("score"),
            F.col("d_vec").alias("s_vec"),
        )
        .localCheckpoint()
    )
    for rnd in range(2, k_select + 1):
        rem = pool.join(
            selected.select("q_id", "n_id"), ["q_id", "n_id"], "left_anti"
        )
        redund = (
            rem.join(
                selected.select("q_id", "s_vec"), "q_id"
            )
            .withColumn("ssim", cosine(F.col("d_vec"), F.col("s_vec")))
            .groupBy("q_id", "n_id")
            .agg(F.max("ssim").alias("max_ssim"))
        )
        scored = rem.join(redund, ["q_id", "n_id"]).withColumn(
            "mmr",
            F.lit(lam) * F.col("sim") - F.lit(1.0 - lam) * F.col("max_ssim"),
        )
        pick = (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select(
                "q_id", "n_id", F.lit(rnd).alias("sel_round"),
                F.col("mmr").alias("score"), F.col("d_vec").alias("s_vec"),
            )
        )
        selected = selected.unionByName(pick).localCheckpoint()
    return selected.select(
        "q_id", "n_id", "sel_round", F.round("score", 6).alias("score")
    )
