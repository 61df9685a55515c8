"""Deduplication operators for LLM training-data pipelines (driver
mandate, SURVEY.md §2.11): exact, MinHash+LSH, SimHash, and n-gram
Jaccard — all as DataFrame compositions with shared deterministic
hashing (`functions.scalar.md5_hash64`), so every one of them is
oracle-checkable in DuckDB.

Scale design (100 TB stance):
  * exact dedup — hash-groupBy: one shuffle on a 16-byte digest, no
    text comparison; canonical row = min doc_id.
  * MinHash+LSH — per-doc signature is a pure projection (no shuffle);
    the only shuffle is the equi-join on (band, band_key), whose
    output is ~candidate pairs, not O(n²). Verification re-computes
    true Jaccard only on candidates.
  * SimHash — projection to a 64-bit key + banded self-join on 4×16-bit
    band values (pigeonhole covers hamming ≤ 3), again near-linear.
  * n-gram Jaccard — the O(n²)-within-block baseline; blocked by a
    cheap key (lang) to bound the quadratic term. The oracle for the
    others and the fallback for small blocks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from query_processing_over_streaming_data_using_flink_spark.operators.text import (
    doc_fingerprint,
    shingle_hash_arrays,
    shingle_hash_rows,
    tokens,
)
from query_processing_over_streaming_data_using_flink_spark.functions.scalar import md5_hash64

# MinHash parameters — shared verbatim with the SQL oracle builder.
MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)
MINHASH_PERMS: tuple[tuple[int, int], ...] = (
    (1610612741, 12345), (805306457, 67890), (402653189, 24680),
    (201326611, 13579), (100663319, 97531), (50331653, 86420),
    (25165843, 11111), (12582917, 22222), (6291469, 33333),
    (3145739, 44444), (1572869, 55555), (786433, 66666),
)
MINHASH_BANDS = 4  # 4 bands × 3 rows
MINHASH_ROWS = 3
# Shingle size for the MinHash signatures. The eligibility filter in
# `minhash_signatures` (token count >= k) and the shingle computation
# must use the SAME k, or docs with k'-1..2 tokens would slip past the
# filter and get a NULL sig from array_min over an empty hash array.
MINHASH_SHINGLE_K = 3


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup by content fingerprint: every doc labeled with its
    group's canonical (min) doc_id — `is_canonical = keep`."""
    fp = docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fp"))
    canon = fp.groupBy("fp").agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("group_size"))
    return (
        fp.join(canon, "fp")
        .select(
            "doc_id",
            "canonical_id",
            "group_size",
            (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
        )
    )


def _perm_expr(h: Column, a: int, b: int) -> Column:
    return (F.lit(a) * (h % MINHASH_P) + F.lit(b)) % MINHASH_P


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """Per-doc shingle set + MinHash signature, computed the scalable
    way: map-side shingle-hash arrays (`shingle_hash_arrays` — md5 once
    per shingle), then the 12 permutation minima as array expressions
    over the materialized hash array. ZERO shuffles (guide §2.4): the
    pre-r14 form exploded to (doc_id, h) rows and hash-aggregated them
    back — a full shuffle of the shingle rows that existed only to
    undo the explode. CollapseProject keeps the multiply-referenced
    hash array materialized (SPARK-36718), so shingling runs once per
    row, not once per permutation (check with scripts/query_profile.py plan).

    `sh` element ORDER differs from the old collect_set rendering
    (first-occurrence vs hash-table order); every consumer treats it
    as a set (array_intersect / size — grep-verified), and collect_set
    order was never deterministic to begin with.

    Returns (doc_id, sh array<long>, sig array<long>)."""
    # Docs with < k tokens have no k-gram shingles — exactly the rows
    # the old aggregate form never produced. Filtering on the TOKEN
    # COUNT (one cheap split per row, pushed to the scan) rather than
    # on size(hs) matters: a size(hs) > 0 filter gets pushed below the
    # fan-out exchange with the whole shingle+md5 pipeline re-inlined
    # into it — every row would pay the expensive expression twice,
    # the first time on the unspread scan task. The filter and the
    # shingle computation share MINHASH_SHINGLE_K by construction.
    eligible = docs.filter(F.size(tokens(F.col("text"))) >= MINHASH_SHINGLE_K)
    arrays = shingle_hash_arrays(eligible, k=MINHASH_SHINGLE_K)

    def perm(a: int, b: int):
        return lambda h: _perm_expr(h, a, b)

    return arrays.select(
        "doc_id",
        F.col("hs").alias("sh"),
        F.array(
            *[F.array_min(F.transform(F.col("hs"), perm(a, b))) for a, b in MINHASH_PERMS]
        ).alias("sig"),
    )


def band_keys(sigs: DataFrame) -> DataFrame:
    """LSH band keys from a MinHash signature table (doc_id, sig):
    one (doc_id, band, band_key) row per band, band_key = md5 of the
    band's signature slice. Shared by the batch pair-finder and the
    streaming near-dedup."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        md5_hash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("sig")[band * MINHASH_ROWS + r].cast("string")
                                    for r in range(MINHASH_ROWS)
                                ],
                            )
                        ).alias("band_key"),
                    )
                    for band in range(MINHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.band_key")


def minhash_lsh_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """MinHash + banded LSH candidate generation, then exact Jaccard
    verification on candidates only.

    Signature: 12 perms → 4 bands × 3 rows. Docs sharing any band key
    become candidates; candidates are verified with true shingle-set
    Jaccard ≥ threshold. Returns (doc_a, doc_b, jaccard)."""
    return lsh_pairs_from_signatures(minhash_signatures(docs), threshold)


def lsh_pairs_from_signatures(
    signatures: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """The signature-free tail of `minhash_lsh_pairs`: banded candidate
    join + exact shingle-Jaccard verification over a PRECOMPUTED
    (doc_id, sh, sig) signature table. Split out (round 14) so the
    streaming telemetry face — which maintains signatures as live
    state, each doc signed once at ingest — can generate pairs without
    ever re-reading document text; `minhash_lsh_pairs` is exactly
    `minhash_signatures` piped through this (bit-equal refactor).

    The signature table is cached: it feeds the band explode AND both
    sides of the verification join, and recomputing shingle hashing
    three times would dominate the runtime."""
    sigs = signatures.withColumnRenamed("sh", "shingles").persist()

    bands = band_keys(sigs)

    left = bands.alias("x")
    right = bands.alias("y")
    candidates = (
        left.join(
            right,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )

    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def cross_side_minhash_pairs(
    a_sigs: DataFrame, b_sigs: DataFrame, threshold: float
) -> DataFrame:
    """Cross-side MinHash verification core, shared by
    `cross_snapshot_minhash` (new batch vs history) and the streaming
    eval-decontamination state (`streaming/curation.py`): side A's
    band keys equi-joined against side B's (the only corpus-scale
    shuffle), candidates verified with exact shingle-set Jaccard. Both
    inputs are (doc_id, sh, sig) signature frames; returns one row per
    verified cross pair (doc_id from A, other_id from B, jaccard).
    Keeping the band layout / rounding / threshold semantics in ONE
    place is what the pinned stream==batch equalities rely on."""
    a_bands = band_keys(a_sigs)
    b_bands = band_keys(b_sigs).select(
        F.col("doc_id").alias("other_id"), "band", "band_key"
    )
    candidates = (
        a_bands.join(b_bands, ["band", "band_key"])
        .select("doc_id", "other_id")
        .distinct()
    )
    a = a_sigs.select("doc_id", F.col("sh").alias("sh_a"))
    b = b_sigs.select(F.col("doc_id").alias("other_id"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        candidates.join(a, "doc_id")
        .join(b, "other_id")
        .select(
            "doc_id",
            "other_id",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def cross_snapshot_minhash(
    history: DataFrame, batch: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Cross-snapshot NEAR-dedup — the incremental-crawl question the
    exact-fingerprint variant misses: which docs of a NEW batch are
    near-duplicate re-crawls of the historical corpus (boilerplate
    tweaks, timestamps, minor edits)?

    Shape: MinHash band keys of the batch equi-joined against the
    HISTORY band table on (band, band_key) — the only corpus-scale
    shuffle; candidates verified with exact shingle-set Jaccard. In
    production the history signatures/bands are a maintained table
    (`streaming/dedup.py` keeps exactly this state incrementally), so a
    daily batch costs one signature pass over the batch plus a
    candidates-only join — the history text is never re-read.

    Returns one row per batch doc with a non-empty shingle set:
    (doc_id, n_near_dups, max_jaccard, is_novel).
    """
    hist_sigs = minhash_signatures(history).persist()
    batch_sigs = minhash_signatures(batch).persist()
    verified = cross_side_minhash_pairs(batch_sigs, hist_sigs, threshold)
    per_doc = verified.groupBy("doc_id").agg(
        F.count("*").alias("n_near_dups"), F.max("jaccard").alias("max_jaccard")
    )
    return (
        batch_sigs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_near_dups"), F.lit(0).cast("long")).alias("n_near_dups"),
            "max_jaccard",
            F.col("n_near_dups").isNull().alias("is_novel"),
        )
    )


def ngram_jaccard_pairs(docs: DataFrame, threshold: float, block_col: str = "lang") -> DataFrame:
    """All-pairs n-gram Jaccard within blocks — exact near-dup baseline
    (quadratic within a block; use MinHash-LSH at scale)."""
    shingle_sets = shingle_hash_rows(docs).groupBy("doc_id").agg(
        F.collect_set("h").alias("sh")
    )
    sh = (
        docs.select(F.col(block_col).alias("blk"), "doc_id")
        .join(shingle_sets, "doc_id")
        .persist()  # feeds both sides of the self-join
    )
    a = sh.select(F.col("blk"), F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("blk"), F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        a.join(b, ["blk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# 64-bit SimHash (round-2 scale fix: 16 bits ⇒ only 2^16 distinct keys,
# so at 10^9 docs every band bucket held ~10^7 rows and the banded
# self-join went quadratic within buckets; 64 bits with 4×16-bit bands
# keeps each band's keyspace at 2^16 *per band value* of 2^16 — expected
# bucket size n/2^16, i.e. ~15K docs per bucket at 10^9 docs).
SIMHASH_BITS = 64


def _simhash_bit(i: int) -> int:
    """Signed-long value of bit i. Bit 63 is the two's-complement sign
    bit: its contribution is -(2^63), so the assembled hash is exactly
    the 64-bit pattern as a signed BIGINT in both Spark and DuckDB (no
    HUGEINT/unsigned detour)."""
    return (1 << i) if i < 63 else -(1 << 63)


def simhash64(text: Column) -> Column:
    """64-bit SimHash over token hashes: per bit, sum +1/-1 across
    tokens (with multiplicity); bit set iff the sum is positive.

    NOTE: expression-level only (duplicates the token-hash subtree once
    per bit) — use `simhash_df` for real datasets."""
    toks = tokens(text)
    th = F.transform(toks, lambda t: md5_hash64(t))

    def bit_step(i: int):
        # != 0 (not > 0): bit 63's mask is negative as a signed long.
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(F.lit(_simhash_bit(i))) != 0, 1
        ).otherwise(-1)

    out = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        bit_sum = F.aggregate(th, F.lit(0), bit_step(i))
        out = out + F.when(bit_sum > 0, F.lit(_simhash_bit(i))).otherwise(0)
    return out


def simhash_df(docs: DataFrame) -> DataFrame:
    """Per-doc 64-bit SimHash, computed scalably: explode token hashes
    (md5 once per token), one aggregate with 64 conditional sums, then
    recombine the bits. Equivalent to `simhash64` (which duplicates the
    token-hash subtree 64×). Returns (doc_id, sh long)."""
    from query_processing_over_streaming_data_using_flink_spark.operators.layout import fanout

    # Tokenize + per-token md5 run map-side in the scan task — fan an
    # under-parallel input out so they use every core.
    docs = fanout(docs)
    th = docs.select(
        "doc_id",
        F.explode(F.transform(tokens(F.col("text")), lambda t: md5_hash64(t))).alias("h"),
    )
    sums = th.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(_simhash_bit(i))) != 0, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    sh = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        sh = sh + F.when(F.col(f"b{i}") > 0, F.lit(_simhash_bit(i))).otherwise(0)
    return sums.select("doc_id", sh.alias("sh"))


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    max_rounds: int = 50,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Near-duplicate *clusters*: connected components over a pair
    relation (doc_a, doc_b), labeled by the component's min doc_id.

    Iterative min-label propagation as pure DataFrame ops, hardened
    (r6 verdict ask #7) for adversarial graph shapes: each round every
    doc takes the min of its own and its neighbors' labels (one hop),
    then POINTER-JUMPS — label := label-of-label (labels are doc_ids,
    so the lookup is a self-join) — which doubles the propagation
    distance per round. A planted path graph therefore converges in
    O(log diameter) rounds (~9 for a 200-node chain) instead of
    O(diameter); near-clique dedup graphs still converge in 1-2.
    `localCheckpoint` every `checkpoint_every` rounds truncates
    lineage so plan depth stays bounded however many rounds run, and
    `max_rounds` turns a pathological non-convergence into a loud
    error instead of an infinite driver loop. The driver-side loop
    iterates *rounds*, not rows; every round is join+aggregate work on
    the cluster.

    The iteration frame is GRAPH-sized, not corpus-sized (r13): only
    docs that appear as a candidate-pair endpoint ride the propagation
    rounds — a doc with no edges can never change labels, so dragging
    the whole corpus through O(log diameter) rounds of joins was pure
    dead weight (at 100 TB, ~10 corpus-scale shuffles of it; near-dup
    graphs are sparse, |endpoints| ≈ 2·|pairs| ≪ |docs|). Singletons
    rejoin at the end via ONE anti-join against the (small) endpoint
    set and never shuffle at all — their row is (doc_id, doc_id, 1)
    by construction. Output is bit-identical to the corpus-wide form
    PROVIDED pair endpoints ⊆ docs (every in-repo caller satisfies
    this — pairs always derive from docs): an endpoint absent from
    `docs` would ride the loop and could donate its id as a real
    cluster's label, where the pre-r13 corpus-seeded form silently
    ignored it.

    Returns (doc_id, cluster_id, cluster_size).
    """
    from query_processing_over_streaming_data_using_flink_spark.pin import pin_result

    # edges/nodes are PINNED (graph-sized eager checkpoint), not merely
    # persisted: a persisted frame's lineage still renders into every
    # consumer's plan STRING, and the candidate generator's plan (md5
    # band expressions x perms x bands) is large enough that the final
    # result's eager checkpoint OOMed the driver building explainString
    # once `singles` referenced it — severing the lineage here keeps
    # every round's and the final plan's rendering O(rounds), and the
    # rounds read the same materialized blocks they did under persist.
    edges = pin_result(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
    )
    nodes = pin_result(edges.select(F.col("src").alias("doc_id")).distinct())
    labels = nodes.select("doc_id", F.col("doc_id").alias("label")).persist()
    for rnd in range(1, max_rounds + 1):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # hopped feeds BOTH sides of the pointer-jump self-join below;
        # persisting it keeps the neighbor_min join+aggregate from
        # being evaluated twice inside one plan. The round's START
        # label rides along as `prev` (r15): the convergence probe
        # below then needs no join against the old labels — labels can
        # be any orderable type (er_resolve_part_names clusters on
        # strings), so a change-counting column beats arithmetic tricks.
        hopped = labels.join(
            neighbor_min, labels["doc_id"] == neighbor_min["src"], "left"
        ).select(
            "doc_id",
            F.col("label").alias("prev"),
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        ).persist()
        # Pointer jumping: label := min(label, label(label)). Labels
        # are doc_ids, so label(label) is a self-join; the min label
        # of a component is a fixpoint, and intermediate labels always
        # stay inside the component, so correctness is unchanged —
        # only the hop count collapses.
        lab = hopped.select(
            F.col("doc_id").alias("l_id"), F.col("label").alias("l_lab")
        )
        new_labels = (
            hopped.join(lab, hopped["label"] == lab["l_id"], "left")
            .select(
                "doc_id",
                "prev",
                F.least(
                    F.col("label"), F.coalesce(F.col("l_lab"), F.col("label"))
                ).alias("label"),
            )
        )
        if rnd % checkpoint_every == 0:
            # Lazy: the change probe below is the round's ONE action
            # and materializes the checkpoint in the same job (an eager
            # checkpoint here would pay a second full pass per
            # checkpoint round).
            new_labels = new_labels.localCheckpoint(eager=False)
        else:
            new_labels = new_labels.persist()
        # One action per round: materializes new_labels (persist or
        # checkpoint) AND answers "did anything change?" in the same
        # 2-stage aggregate — replacing the old probe (join new-vs-old
        # labels + filter + limit(1).count()), which paid two extra
        # exchanges and a second scan of the old labels every round,
        # in every clusters consumer (guide §2.4).
        changed = new_labels.agg(
            F.sum(F.when(F.col("label") != F.col("prev"), 1).otherwise(0)).alias("n")
        ).first()["n"]
        labels.unpersist()
        hopped.unpersist()
        labels = new_labels
        if not changed:
            break
    else:
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_rounds} rounds — "
            "component diameter exceeds 2^rounds, which no dedup graph "
            "should; inspect the pair relation"
        )
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    touched = labels.join(sizes, "label").select(
        "doc_id", F.col("label").alias("cluster_id"), "cluster_size"
    )
    # Singletons (no candidate-pair edge) never entered the loop: one
    # anti-join against the small endpoint set reattaches them as
    # their own size-1 clusters — the corpus streams through map-side,
    # no shuffle.
    singles = docs.select("doc_id").join(nodes, "doc_id", "left_anti").select(
        "doc_id",
        F.col("doc_id").alias("cluster_id"),
        F.lit(1).cast("long").alias("cluster_size"),
    )
    out = touched.unionByName(singles)
    # Materialize the result once so every block cached during the
    # iteration (the final round's labels included) can be released
    # here instead of leaking for the lifetime of the returned lazy
    # plan — the accumulation pattern the bench caught in round 6.
    # pin_result (not a bare localCheckpoint) so plan-dump tooling can
    # see the label-propagation tail instead of one Scan ExistingRDD;
    # the loop-internal checkpoints above stay unconditional.
    out = pin_result(out)
    labels.unpersist()
    # edges/nodes are checkpointed (pin_result), not persisted, so
    # there is no unpersist() to call: their blocks are released when
    # the Python refs drop and ContextCleaner collects the checkpoint
    # RDDs (sweeps force this with gc.collect() between queries).
    return out


def keep_best_dedup(
    docs: DataFrame, clusters: DataFrame, quality_col: str = "n_chars"
) -> DataFrame:
    """Quality-aware canonical selection: per near-dup cluster keep the
    HIGHEST-quality document (tie → min doc_id) instead of the min-id
    convention — what a curation pipeline actually wants (drop the
    truncated/mangled copies, keep the best one).

    `clusters` is (doc_id, cluster_id, cluster_size) from
    `dedup_clusters` (or any labeling). One window over cluster_id —
    a single shuffle keyed by cluster; cluster cardinality is bounded
    by near-dup group size, so no skewed giant partition at scale.

    Returns (doc_id, cluster_id, cluster_size, keep_id, keep).
    """
    from pyspark.sql.window import Window

    labeled = docs.select("doc_id", quality_col).join(
        clusters.select("doc_id", "cluster_id", "cluster_size"), "doc_id"
    )
    w = (
        Window.partitionBy("cluster_id")
        .orderBy(F.desc(quality_col), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return labeled.withColumn("keep_id", F.first("doc_id").over(w)).select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        "keep_id",
        (F.col("doc_id") == F.col("keep_id")).alias("keep"),
    )


def decontaminate(docs: DataFrame, eval_pred: Column) -> DataFrame:
    """Benchmark decontamination: find training documents that share
    k-gram shingles with an eval/benchmark subset (`eval_pred` marks
    eval docs). The standard pre-training hygiene step — eval overlap
    silently inflates downstream benchmark scores.

    Plan shape for 100 TB: shingle-hash both sides relationally (one
    pass, `text.shingle_hash_rows`), then equi-join train shingles
    against the eval shingle set. The eval side is orders of magnitude
    smaller than the corpus (benchmarks are MBs, corpora are TBs), so
    it is broadcast — the contamination check costs one corpus scan
    and zero fact-table shuffles. If the eval set ever outgrows
    broadcast range, drop the hint and it degrades to a hash join on
    the shingle hash.

    Returns (doc_id, n_shared_shingles, n_eval_docs) for contaminated
    training docs only.
    """
    from query_processing_over_streaming_data_using_flink_spark.operators.text import shingle_hash_rows

    rows = shingle_hash_rows(docs.select("doc_id", "text"))
    eval_ids = docs.filter(eval_pred).select("doc_id")
    eval_rows = (
        rows.join(F.broadcast(eval_ids), "doc_id")
        .select(F.col("doc_id").alias("eval_doc_id"), "h")
    )
    train_rows = rows.join(F.broadcast(eval_ids), "doc_id", "left_anti")
    return (
        train_rows.join(F.broadcast(eval_rows), "h")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("h").alias("n_shared_shingles"),
            F.countDistinct("eval_doc_id").alias("n_eval_docs"),
        )
    )


# Band boundaries: 64 bits → 4 bands × 16 bits. Two keys within
# hamming ≤ 3 must agree exactly on at least one band (pigeonhole).
# Band values are extracted with (sh >> shift) & 0xFFFF — the mask
# discards arithmetic-shift sign fill, so signed sh is safe.
SIMHASH_BAND_SHIFTS = ((0, 0xFFFF), (16, 0xFFFF), (32, 0xFFFF), (48, 0xFFFF))


def hamming_band_pairs(
    keys: DataFrame, key_col: str = "sh", max_hamming: int = 3
) -> DataFrame:
    """Banded hamming self-join over any (doc_id, <key_col> long) table
    of 64-bit keys: by pigeonhole, a pair within hamming ≤ 3 agrees
    exactly on ≥1 of the 4 16-bit bands, so candidates come from an
    equi-join on (band, band_value) — near-linear, no all-pairs scan —
    then verified with bit_count(xor). Shared by SimHash text dedup and
    perceptual-hash (dHash) image dedup.

    Returns (doc_a, doc_b, key_a, key_b, hamming)."""
    kdf = keys.select("doc_id", F.col(key_col).alias("k"))
    bands = kdf.select(
        "doc_id",
        "k",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("k", shift).bitwiseAND(F.lit(mask)).alias("bval"),
                    )
                    for i, (shift, mask) in enumerate(SIMHASH_BAND_SHIFTS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "k", "bk.band", "bk.bval")
    a = bands.alias("x")
    b = bands.alias("y")
    return (
        a.join(
            b,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bval") == F.col("y.bval"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.k").alias("key_a"),
            F.col("y.k").alias("key_b"),
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("key_a").bitwiseXOR(F.col("key_b"))))
        .filter(F.col("hamming") <= max_hamming)
    )


def hamming_band_key_rows(keys: DataFrame, key_col: str = "sh") -> DataFrame:
    """Flatten a (doc_id, <key_col> long) table of 64-bit keys to one
    (doc_id, band_key) row per band, band_key = (band << 16) | bval —
    the single-column form the streaming band-ownership state keys on
    (band index folded in so different bands never collide)."""
    k = keys.select("doc_id", F.col(key_col).alias("k"))
    return k.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    (
                        F.shiftright("k", shift).bitwiseAND(F.lit(mask))
                        + F.lit(i << 16).cast("long")
                    )
                    for i, (shift, mask) in enumerate(SIMHASH_BAND_SHIFTS)
                ]
            )
        ).alias("band_key"),
    )


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs via the banded hamming self-join
    (`hamming_band_pairs`)."""
    sh = simhash_df(docs).persist()
    return hamming_band_pairs(sh, "sh", max_hamming).select(
        "doc_a",
        "doc_b",
        F.col("key_a").alias("sh_a"),
        F.col("key_b").alias("sh_b"),
        "hamming",
    )


# Exact-substring (span-level) dedup — the standard training-data
# result (Lee et al., "Deduplicating Training Data Makes Language
# Models Better"): find exact shared token spans of length ≥ K across
# documents, which doc-level MinHash misses (syndicated articles with
# different boilerplate, quoted chunks). The suffix-array construction
# of the paper is sequential; the relational rendering is overlapping
# K-token shingle hashes + diagonal run-merging:
#   * a shared span of L ≥ K tokens ⟺ L-K+1 CONSECUTIVE positions on
#     one (doc_a, doc_b, pos_a - pos_b) diagonal share a shingle hash,
#   * so maximal spans are gaps-and-islands over matched positions
#     per diagonal (pos - row_number() is constant within a run).
# Cost at 100 TB: the shingle hash is computed inside codegen from the
# token array (no K× text blowup leaves the scan — the exchange
# carries only (doc_id, pos, 8-byte md5_hash64 key) per position), the
# hash join output is ~true matches, and the window runs per
# (doc_a, doc_b, diag) partition. Collisions: 60-bit hash over the
# actual K-token text — ~n²/2^61 expected false pairs, negligible
# below ~10^8 shared-shingle matches; re-verify survivors against raw
# text if that bound ever matters.
SPAN_TOKENS = 50


def _span_shingles(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, h): the overlapping k-token shingle hash at every
    1-based position — computed inside codegen from the token array,
    so only (doc_id, pos, 8-byte key) ever leaves the scan."""
    from query_processing_over_streaming_data_using_flink_spark.operators.layout import fanout
    from query_processing_over_streaming_data_using_flink_spark.operators.text import TOKEN_SPLIT_RE

    # The k-token hash at every position is computed map-side in the
    # scan task; on an under-parallel input that serializes the whole
    # corpus's md5 work onto one core (measured 2.9x on the fixtures).
    docs = fanout(docs)
    t = docs.select("doc_id", F.split(F.col("text"), TOKEN_SPLIT_RE).alias("toks"))
    return (
        t.filter(F.size("toks") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - k + 1),
                    lambda i: md5_hash64(F.concat_ws(" ", F.slice(F.col("toks"), i, F.lit(k)))),
                )
            ).alias("p0", "h"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "h")
    )


def exact_substring_spans(docs: DataFrame, span_tokens: int = SPAN_TOKENS) -> DataFrame:
    """Maximal exact shared token spans of length ≥ `span_tokens`
    between document pairs. Returns (doc_a, doc_b, a_start, b_start,
    span_len) with 1-based token offsets, doc_a < doc_b."""
    from pyspark.sql.window import Window

    k = span_tokens
    sh = _span_shingles(docs, k)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a"), "h")
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"), "h")
    m = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", "pos_a", "pos_b",
            (F.col("pos_a") - F.col("pos_b")).alias("diag"),
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = m.withColumn("isl", F.col("pos_a") - F.row_number().over(w))
    return (
        runs.groupBy("doc_a", "doc_b", "diag", "isl")
        .agg(F.min("pos_a").alias("a_start"), F.max("pos_a").alias("a_end"))
        .select(
            "doc_a",
            "doc_b",
            "a_start",
            (F.col("a_start") - F.col("diag")).alias("b_start"),
            (F.col("a_end") - F.col("a_start") + k).alias("span_len"),
        )
    )


def _strip_covered_positions(
    docs: DataFrame, covered: DataFrame, ratio_col: str, count_col: str
) -> DataFrame:
    """Shared rewrite tail for span-level strips: drop every (doc_id,
    pos) in `covered` from the token table, reassemble the survivors
    in order, and md5-verify the result. Returns (doc_id, n_tokens,
    <count_col>, <ratio_col>, cleaned_md5). Scale: `covered` is
    bounded by total corpus tokens — usually far below — and the strip
    is one left-anti join; no interval-merge pass is needed because
    positions dedupe directly."""
    from query_processing_over_streaming_data_using_flink_spark.operators.layout import fanout
    from query_processing_over_streaming_data_using_flink_spark.operators.text import TOKEN_SPLIT_RE

    docs = fanout(docs)
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), TOKEN_SPLIT_RE)).alias("p0", "tok"),
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    n_dup = covered.groupBy("doc_id").agg(F.count("*").alias(count_col))
    totals = toks.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    cleaned = kept.groupBy("doc_id").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda t: t["tok"],
                ),
            )
        ).alias("cleaned_md5")
    )
    return (
        totals.join(n_dup, "doc_id", "left")
        .join(cleaned, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col(count_col), F.lit(0)).alias(count_col),
            F.round(
                F.coalesce(F.col(count_col), F.lit(0)) / F.col("n_tokens"), 6
            ).alias(ratio_col),
            # a fully-duplicated doc keeps no tokens: md5 of the empty
            # string, same as the oracle's string_agg over zero rows
            F.coalesce(F.col("cleaned_md5"), F.md5(F.lit(""))).alias("cleaned_md5"),
        )
    )


def exact_substring_rewrite(docs: DataFrame, span_tokens: int = SPAN_TOKENS) -> DataFrame:
    """The rewrite half of span-level dedup (keep-first-occurrence):
    every token position covered by a span shared with a LOWER doc_id
    (the `doc_b` side of `exact_substring_spans`) is stripped; the doc
    reassembles from surviving tokens in order. Returns (doc_id,
    n_tokens, n_dup_tokens, dup_ratio, cleaned_md5) — the md5
    value-checks the rewrite itself, the `boilerplate_strip` pattern."""
    spans = exact_substring_spans(docs, span_tokens)
    covered = (
        spans.select(
            F.col("doc_b").alias("doc_id"),
            F.explode(
                F.sequence(
                    F.col("b_start"), F.col("b_start") + F.col("span_len") - 1
                )
            ).alias("pos"),
        )
        .distinct()
    )
    return _strip_covered_positions(docs, covered, "dup_ratio", "n_dup_tokens")


def cross_substring_burn(
    history: DataFrame, batch: DataFrame, span_tokens: int = SPAN_TOKENS
) -> DataFrame:
    """Span-BURN decontamination rewrite — remove the contaminated
    spans instead of dropping the document: every batch-doc token
    position covered by an exact ≥ `span_tokens`-token run shared with
    the HISTORY side (an eval benchmark, a blocklist corpus) is
    stripped, and the doc reassembles from the survivors. The
    document-retention dual of `cross_snapshot_substring` (which only
    FLAGS): eval-hygiene pipelines burn the leaked span and keep the
    doc, dropping only when the burn ratio is too high. Returns
    (doc_id, n_tokens, n_burned_tokens, burn_ratio, cleaned_md5) for
    every batch doc — the md5 value-checks the rewrite itself.

    Scale shape: identical to the certified substring family — shingle
    hashes computed inside codegen (8-byte keys), one hash equi-join
    against the benchmark-sized history side (broadcast at scale),
    per-(pair, diagonal) run merge, then the shared strip tail."""
    k = span_tokens
    hist = _span_shingles(history, k).select(
        F.col("doc_id").alias("doc_h"), F.col("pos").alias("pos_h"), "h"
    )
    return cross_substring_burn_from_shingles(hist, batch, k)


def cross_substring_burn_from_shingles(
    hist: DataFrame, batch: DataFrame, span_tokens: int = SPAN_TOKENS
) -> DataFrame:
    """`cross_substring_burn` with the HISTORY side already in shingle-
    table form (doc_h, pos_h, h) — the maintained-table shape, and what
    the streaming decontamination face feeds from its live signed-
    weight state (stream==batch equality is structural, the
    `cross_snapshot_substring_from_shingles` pattern)."""
    from pyspark.sql.window import Window

    k = span_tokens
    new = _span_shingles(batch, k).select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"), "h"
    )
    m = new.join(hist, "h").select(
        "doc_b", "doc_h", "pos_b", (F.col("pos_b") - F.col("pos_h")).alias("diag")
    )
    w = Window.partitionBy("doc_b", "doc_h", "diag").orderBy("pos_b")
    spans = (
        m.withColumn("isl", F.col("pos_b") - F.row_number().over(w))
        .groupBy("doc_b", "doc_h", "diag", "isl")
        .agg(
            F.min("pos_b").alias("b_start"),
            (F.max("pos_b") - F.min("pos_b") + k).alias("span_len"),
        )
    )
    covered = (
        spans.select(
            F.col("doc_b").alias("doc_id"),
            F.explode(
                F.sequence(
                    F.col("b_start"), F.col("b_start") + F.col("span_len") - 1
                )
            ).alias("pos"),
        )
        .distinct()
    )
    return _strip_covered_positions(batch, covered, "burn_ratio", "n_burned_tokens")


def cross_snapshot_substring(
    history: DataFrame, batch: DataFrame, span_tokens: int = SPAN_TOKENS
) -> DataFrame:
    """Cross-snapshot SPAN-level dedup — the incremental-crawl variant
    of `exact_substring_spans`, completing the cross-snapshot family
    (exact fingerprint → MinHash near-dup → exact substring): which
    NEW-batch docs share an exact token span of ≥ `span_tokens` with
    the HISTORICAL corpus (syndicated re-publications, partial
    re-crawls that doc-level signatures miss)? Same shingle-hash +
    diagonal run-merge construction, but the equi-join is new-batch
    positions against the history shingle table — in production a
    maintained table keyed by hash, so the per-batch cost is the new
    docs' shingles, never a history rescan. Returns one flat row per
    batch doc: (doc_id, n_dup_sources, n_spans, max_span_len,
    is_novel)."""
    k = span_tokens
    hist = _span_shingles(history, k).select(
        F.col("doc_id").alias("doc_h"), F.col("pos").alias("pos_h"), "h"
    )
    return cross_snapshot_substring_from_shingles(hist, batch, k)


def cross_snapshot_substring_from_shingles(
    hist: DataFrame, batch: DataFrame, span_tokens: int = SPAN_TOKENS
) -> DataFrame:
    """`cross_snapshot_substring` with the HISTORY side already in
    shingle-table form (doc_h, pos_h, h) — the maintained-table shape
    its docstring promises for production, and what the streaming
    decontamination face feeds from its live signed-weight state."""
    from pyspark.sql.window import Window

    k = span_tokens
    new = _span_shingles(batch, k).select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"), "h"
    )
    m = new.join(hist, "h").select(
        "doc_b", "doc_h", "pos_b", (F.col("pos_b") - F.col("pos_h")).alias("diag")
    )
    w = Window.partitionBy("doc_b", "doc_h", "diag").orderBy("pos_b")
    spans = (
        m.withColumn("isl", F.col("pos_b") - F.row_number().over(w))
        .groupBy("doc_b", "doc_h", "diag", "isl")
        .agg((F.max("pos_b") - F.min("pos_b") + k).alias("span_len"))
    )
    per_doc = spans.groupBy("doc_b").agg(
        F.countDistinct("doc_h").alias("n_dup_sources"),
        F.count("*").alias("n_spans"),
        F.max("span_len").alias("max_span_len"),
    )
    return (
        batch.select("doc_id")
        .join(per_doc, batch["doc_id"] == per_doc["doc_b"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_dup_sources"), F.lit(0)).alias("n_dup_sources"),
            F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
            F.coalesce(F.col("max_span_len"), F.lit(0)).alias("max_span_len"),
            F.col("n_dup_sources").isNull().alias("is_novel"),
        )
    )


def span_band_key_rows(docs: DataFrame, span_tokens: int = SPAN_TOKENS) -> DataFrame:
    """(doc_id, band_key) rows for the streaming band-ownership state
    (`streaming/dedup.py:IncrementalNearDedup`): every overlapping
    `span_tokens`-token shingle hash. A doc sharing an exact span of
    ≥ K tokens with ANY earlier-ingested doc shares ≥ 1 shingle key
    with it, so the ownership collision flags exactly the partial-
    overlap re-publications `cross_snapshot_substring` finds in batch
    — span-level dedup as the third streaming modality next to
    MinHash-band text and perceptual image/audio.

    Docs SHORTER than `span_tokens` have no shingles but must still
    receive a verdict (the ownership state derives its verdict frame
    from band rows — a doc with zero rows would silently vanish from
    the admit/drop log), so each gets a private sentinel key,
    -(doc_id)-1: strictly negative, so it can never collide with the
    non-negative 60-bit shingle hashes, and unique per doc, so short
    docs are always admitted as their own owners."""
    from query_processing_over_streaming_data_using_flink_spark.operators.text import TOKEN_SPLIT_RE

    shingled = _span_shingles(docs, span_tokens).select(
        "doc_id", F.col("h").alias("band_key")
    )
    short = docs.filter(
        F.size(F.split(F.col("text"), TOKEN_SPLIT_RE)) < span_tokens
    ).select("doc_id", (-F.col("doc_id") - 1).cast("long").alias("band_key"))
    return shingled.unionByName(short)
