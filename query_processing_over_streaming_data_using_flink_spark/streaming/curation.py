"""Streaming face of the COMPLETE curation lineage
(`plans/suite_quality.py:curation_pipeline_full`) — the batch
pipeline's `filter → dedup → decontaminate → mixture → split → export`
order, with every stage whose model/index is incrementally
maintainable running as signed-weight state on the shared
crash-atomic versioned store, and the gate chain reproducing the
batch manifest BIT-FOR-BIT (pinned in
tests/test_streaming_curation.py).

One documents stream, one foreachBatch fan-out into three state
maintainers (all `IncrementalGroupedAgg` instantiations — versioned
dirs, atomic pointer commit, replay skip, GC, compaction for free):

* KN trigram LM (`lm_gate.IncrementalKneserNeyLM`) over the
  clean-subset rows — feeds BOTH the perplexity gate and the
  perplexity-tilted mixture rates.
* `IncrementalExactDedupIndex` — the exact-dedup fingerprint index as
  (fp, doc_id) net-count rows. Canonical = min LIVE doc_id per
  fingerprint, derived at read: retracting a canonical PROMOTES the
  next-smallest survivor, which first-wins ownership schemes (the
  policy `streaming/dedup.py` uses for its at-ingest verdicts) cannot
  express. State is one row per distinct (fp, doc) — the size any
  exact-dedup index pays.
* `IncrementalEvalMinhash` — the fuzzy-decontamination eval side as
  signature rows (doc_id, shingle set, MinHash signature, net).
  Benchmark suites version and withdraw: an eval doc's retraction
  removes its rows and previously-contaminated training docs come
  back clean. `flag()` is the batch `decontaminate_eval_minhash`
  plan unchanged against the LIVE signatures (banded candidate join,
  exact-Jaccard verification on candidates only).

`gate(docs)` then applies the batch pipeline's stage chain — Gopher
rule battery (stateless projection), KN perplexity gate, canonical
selection, fuzzy decontamination, mixture-rate Bernoulli draw — with
the LIVE state where the batch uses freshly-trained models, via the
same frame-level helpers the registered queries run
(`gopher_flags`, `mixture_rates`, `split_manifest_tail`), so
stream==batch equality is structural rather than coincidental. The
leakage-safe split stays a release-time batch stage in both faces
(corpus-global near-dup clustering); `manifest()` composes it and the
export tail.

Scale: per-epoch cost is O(batch) for all three deltas (map-side
combine; the state is never read on the write path). The gate is the
batch plan: at 100 TB the eval signature table is benchmark-sized
(broadcast), the rate table is |sources| rows (broadcast), and the
corpus streams the scoring joins once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from query_processing_over_streaming_data_using_flink_spark.operators import dedup as dd
from query_processing_over_streaming_data_using_flink_spark.operators import lm
from query_processing_over_streaming_data_using_flink_spark.operators import text as tx
from query_processing_over_streaming_data_using_flink_spark.operators.text import doc_fingerprint
from query_processing_over_streaming_data_using_flink_spark.streaming.drain import (
    drain_file_source,
    run_face,
)
from query_processing_over_streaming_data_using_flink_spark.streaming.incragg import IncrementalGroupedAgg
from query_processing_over_streaming_data_using_flink_spark.streaming.lm_gate import IncrementalKneserNeyLM


class IncrementalExactDedupIndex:
    """Continuously-maintained exact-dedup fingerprint index.

    State: one (fp, doc_id) row with a net signed count — the RAW
    membership relation, not a folded ownership verdict, so canonical
    selection (min live doc_id, `operators/dedup.py:exact_dedup`'s
    rule) derives at read time and stays correct under retraction.
    """

    def __init__(self, spark: SparkSession, state_dir: str):
        def delta(batch: DataFrame) -> DataFrame:
            return (
                batch.select(
                    doc_fingerprint(F.col("text")).alias("fp"), "doc_id", "op"
                )
                .groupBy("fp", "doc_id")
                .agg(F.sum("op").cast("long").alias("net"))
            )

        self.agg = IncrementalGroupedAgg(
            spark,
            state_dir,
            group_cols=["fp", "doc_id"],
            measure_cols=["net"],
            schema="bucket int, fp string, doc_id long, net long",
            delta_fn=delta,
        )

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        self.agg.process_batch(batch, epoch_id)

    def canonicals(self) -> DataFrame:
        """(fp, canonical_id, group_size) over LIVE docs — bit-equal to
        the batch `exact_dedup` group table over the net corpus."""
        return (
            self.agg.result()
            .filter(F.col("net") > 0)
            .groupBy("fp")
            .agg(
                F.min("doc_id").alias("canonical_id"),
                F.count("*").alias("group_size"),
            )
        )

    def canonical_flags(self, docs: DataFrame) -> DataFrame:
        """Per-doc (doc_id, canonical_id, group_size, is_canonical) for
        a frame whose docs the index has ingested — the batch
        `exact_dedup` output shape."""
        fp = docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fp"))
        return fp.join(self.canonicals(), "fp").select(
            "doc_id",
            "canonical_id",
            "group_size",
            (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
        )


class IncrementalEvalMinhash:
    """Continuously-maintained eval-side MinHash state for fuzzy
    benchmark decontamination (`decontaminate_eval_minhash`'s eval
    half): per live eval doc its distinct-shingle set and 12-perm
    signature, as signed net-count rows — inserts register a benchmark,
    retractions withdraw it and its contamination verdicts with it."""

    def __init__(self, spark: SparkSession, state_dir: str):
        from query_processing_over_streaming_data_using_flink_spark.functions.scalar import md5_hash64

        def delta(batch: DataFrame) -> DataFrame:
            # Signatures must be computed per (doc_id, CONTENT VERSION),
            # not per doc_id: a benchmark version update delivers
            # retract(old text) + insert(new text) for the SAME doc in
            # one micro-batch, and signing per doc_id would merge both
            # texts' shingles into one bogus row whose ops cancel —
            # silently losing the update. Fold identical versions'
            # ops first, then sign each surviving version under a
            # content-derived key and group the state delta back under
            # the real doc id.
            vers = (
                batch.groupBy("doc_id", "text")
                .agg(F.sum("op").cast("long").alias("op"))
                .filter(F.col("op") != 0)
            )
            keyed = vers.select(
                F.col("doc_id").alias("orig_id"),
                "op",
                md5_hash64(
                    F.concat_ws(
                        " ", F.col("doc_id").cast("string"), F.col("text")
                    )
                ).alias("doc_id"),
                "text",
            )
            # sort the collected shingle set so the state row is a
            # deterministic function of the document (collect_set order
            # is partition-dependent; an unsorted array would make
            # insert and retract rows fail to cancel)
            sigs = dd.minhash_signatures(keyed).select(
                "doc_id", F.array_sort("sh").alias("sh"), "sig"
            )
            return (
                sigs.join(keyed.select("doc_id", "orig_id", "op"), "doc_id")
                .groupBy(F.col("orig_id").alias("doc_id"), "sh", "sig")
                .agg(F.sum("op").cast("long").alias("net"))
            )

        self.agg = IncrementalGroupedAgg(
            spark,
            state_dir,
            group_cols=["doc_id", "sh", "sig"],
            measure_cols=["net"],
            schema=(
                "bucket int, doc_id long, sh array<bigint>, "
                "sig array<bigint>, net long"
            ),
            delta_fn=delta,
        )
        self._cached: list[DataFrame] = []

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        self.agg.process_batch(batch, epoch_id)

    def live(self) -> DataFrame:
        """(doc_id, sh, sig) of the net (insert − retract) eval set."""
        return (
            self.agg.result().filter(F.col("net") > 0).select("doc_id", "sh", "sig")
        )

    def flag(self, train_docs: DataFrame, threshold: float = 0.35) -> DataFrame:
        """Per-training-doc contamination report against the LIVE eval
        set — the batch `decontaminate_eval_minhash` output shape
        (doc_id, n_eval_matches, max_jaccard), produced by the batch
        plan's own cross-side core (`dd.cross_side_minhash_pairs` —
        band-key candidate join, exact shingle-Jaccard verification on
        candidates only). At scale the eval side is benchmark-sized
        and broadcasts. Both signature frames feed the band explode
        AND the verification join, so they are persisted (the
        `minhash_lsh_pairs` discipline); call `release_cache()` —
        or the owning pipeline's `release_gate_cache()` — after
        materializing the result. A repeat call releases the previous
        call's frames first (any prior result must be materialized by
        then), so a long-lived session that polls `flag()`/`gate()`
        holds at most one call's cached blocks even if the caller
        forgets the release discipline."""
        self.release_cache()
        t_sigs = dd.minhash_signatures(train_docs).persist()
        e_sigs = self.live().persist()
        self._cached += [t_sigs, e_sigs]
        return (
            dd.cross_side_minhash_pairs(t_sigs, e_sigs, threshold)
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_eval_matches"),
                F.max("jaccard").alias("max_jaccard"),
            )
        )

    def release_cache(self) -> None:
        """Unpersist the signature frames `flag()` cached."""
        while self._cached:
            self._cached.pop().unpersist()


class IncrementalDedupTelemetry:
    """Continuously-maintained corpus-side MinHash signature state for
    the per-source near-dup telemetry (`dedup_rate_by_source` — the
    data-card / crawl-health dashboard number), round 14, the r13
    verdict's ask #7: each ingested document is signed ONCE at stream
    time (shingle set + 12-perm signature + its source, as signed
    net-count rows on the crash-atomic versioned store), and
    `report()` reproduces the registered batch query from the LIVE
    state — band-key candidate join + exact-Jaccard verification
    (`dd.lsh_pairs_from_signatures`, the batch pair plan's own tail),
    min-label connected components, one per-source aggregate — with
    NO rescan of any document text (pinned stream==batch in
    tests/test_streaming_curation.py).

    Retractions withdraw a doc's signature rows, so a re-crawled or
    deleted doc drops out of its cluster and the dup ratios move the
    right way; version updates (retract old text + insert new in one
    micro-batch) survive via the content-derived signing key (the
    same-batch cancellation defect class r11 fixed).

    Scale: per-epoch cost is O(batch) — one signature pass over the
    micro-batch, map-side-combined into bucketed state. `report()` is
    the batch plan over signature-sized state: the banded equi-join
    and the graph-sized clustering never touch text, and the rollup
    adds one |sources|-row aggregate."""

    def __init__(self, spark: SparkSession, state_dir: str):
        from query_processing_over_streaming_data_using_flink_spark.functions.scalar import md5_hash64

        def delta(batch: DataFrame) -> DataFrame:
            # Fold per (doc_id, CONTENT VERSION): see
            # IncrementalEvalMinhash.delta — signing per doc_id would
            # cancel a same-micro-batch version update.
            vers = (
                batch.groupBy("doc_id", "text", "source")
                .agg(F.sum("op").cast("long").alias("op"))
                .filter(F.col("op") != 0)
            )
            keyed = vers.select(
                F.col("doc_id").alias("orig_id"),
                "op",
                "source",
                md5_hash64(
                    F.concat_ws(
                        " ", F.col("doc_id").cast("string"), F.col("text")
                    )
                ).alias("doc_id"),
                "text",
            )
            sigs = dd.minhash_signatures(keyed).select(
                "doc_id", F.array_sort("sh").alias("sh"), "sig"
            )
            # LEFT join + empty-array coalesce: a doc too short to
            # shingle emits no signature row, but the batch query still
            # counts it (singleton cluster in the rollup) — so the
            # state must carry it too.
            empty = F.array().cast("array<bigint>")
            return (
                keyed.select("doc_id", "orig_id", "source", "op")
                .join(sigs, "doc_id", "left")
                .groupBy(
                    F.col("orig_id").alias("doc_id"),
                    "source",
                    F.coalesce(F.col("sh"), empty).alias("sh"),
                    F.coalesce(F.col("sig"), empty).alias("sig"),
                )
                .agg(F.sum("op").cast("long").alias("net"))
            )

        self.agg = IncrementalGroupedAgg(
            spark,
            state_dir,
            group_cols=["doc_id", "source", "sh", "sig"],
            measure_cols=["net"],
            schema=(
                "bucket int, doc_id long, source string, "
                "sh array<bigint>, sig array<bigint>, net long"
            ),
            delta_fn=delta,
        )
        self._cached: list[DataFrame] = []

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        self.agg.process_batch(batch, epoch_id)

    def live(self) -> DataFrame:
        """(doc_id, source, sh, sig) of the net (insert − retract)
        corpus."""
        return (
            self.agg.result()
            .filter(F.col("net") > 0)
            .select("doc_id", "source", "sh", "sig")
        )

    def report(self, threshold: float = 0.35) -> DataFrame:
        """The `dedup_rate_by_source` output shape — (source, n_docs,
        n_in_dup_clusters, dup_doc_ratio, n_canonicals, n_would_drop)
        — from the live signature state. Same cache discipline as
        `flag()`: the live frame feeds the pair generation, the
        clusterer's singleton anti-join, AND the rollup join, so it is
        persisted; a repeat call releases the previous call's frame,
        and `release_cache()` drops it explicitly."""
        self.release_cache()
        live = self.live().persist()
        self._cached.append(live)
        sigs = live.filter(F.size("sh") > 0).select("doc_id", "sh", "sig")
        pairs = dd.lsh_pairs_from_signatures(sigs, threshold)
        clusters = dd.dedup_clusters(live.select("doc_id"), pairs)
        j = clusters.join(live.select("doc_id", "source"), "doc_id")
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

    def release_cache(self) -> None:
        """Unpersist the live frame `report()` cached."""
        while self._cached:
            self._cached.pop().unpersist()


class StreamingCurationPipeline:
    """The composed face: one `process_batch` fans a documents
    micro-batch into the three state maintainers; `gate()` applies the
    full batch stage chain with the live state; `manifest()` adds the
    release-time split and the export tail. Between them the whole
    `curation_pipeline_full` artifact is reproduced from streaming
    state (bit-equality pinned in tests)."""

    def __init__(self, spark: SparkSession, state_root: str):
        from query_processing_over_streaming_data_using_flink_spark.plans import suite_quality as q

        self._q = q
        self.kn = IncrementalKneserNeyLM(spark, f"{state_root}/kn")
        self.dedup = IncrementalExactDedupIndex(spark, f"{state_root}/fp")
        self.eval_mh = IncrementalEvalMinhash(spark, f"{state_root}/eval_mh")
        self._cached: list[DataFrame] = []

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        """Route one unified documents micro-batch (optionally carrying
        a signed `op`): clean-subset rows train the LM, every row feeds
        the dedup index, eval-slice rows (doc_id % 7 == 0 — the slice
        the registered decontamination queries audit) feed the eval
        signature state."""
        self.kn.process_batch(
            batch.filter(F.col("source") == self._q.PPL_TRAIN_SOURCE), epoch_id
        )
        self.dedup.process_batch(batch, epoch_id)
        self.eval_mh.process_batch(
            batch.filter((F.col("doc_id") % 7) == 0), epoch_id
        )

    def gate(self, docs: DataFrame) -> DataFrame:
        """Apply the batch pipeline's gate chain to a documents frame
        with the LIVE state: Gopher rules ∧ KN perplexity ≤ threshold ∧
        exact-dedup canonical ∧ not fuzzy-contaminated ∧ mixture-rate
        Bernoulli draw. Returns the kept (doc_id, source, text) frame —
        `curation_pipeline_full`'s `kept` subframe, bit-equal once the
        state has ingested the same corpus.

        The KN-scored subtree feeds the perplexity gate AND the
        mixture rates, so it is persisted here; call
        `release_gate_cache()` after materializing the result (the
        `mixture_ppl_tilted` persist/unpersist discipline, with the
        materialization on the caller's side of the seam)."""
        q = self._q
        rules = q.gopher_flags(docs).select(
            "doc_id", F.col("keep").alias("rules_keep")
        )
        scored = (
            lm.kn_perplexity(docs, *self.kn.model())
            .join(docs.select("doc_id", "source"), "doc_id")
            .persist()
        )
        self._cached.append(scored)
        ppl = scored.select(
            "doc_id", (F.col("ppl") <= F.lit(q.PPL_KN_KEEP_MAX)).alias("ppl_keep")
        )
        canon = self.dedup.canonical_flags(docs).select("doc_id", "is_canonical")
        contam = self.eval_mh.flag(
            docs.filter((F.col("doc_id") % 7) != 0)
        ).select("doc_id")
        rates = q.mixture_rates(scored).select("source", "keep_rate_pmy")
        return (
            docs.select("doc_id", "source", "text")
            .join(rules, "doc_id")
            .join(ppl, "doc_id")
            .join(canon, "doc_id")
            .filter(F.col("rules_keep") & F.col("ppl_keep") & F.col("is_canonical"))
            .join(contam, "doc_id", "left_anti")
            .join(F.broadcast(rates), "source")
            .filter(
                tx.sample_hash(F.col("doc_id"), salt="mixppl", modulus=10000)
                < F.col("keep_rate_pmy")
            )
        )

    def release_gate_cache(self) -> None:
        """Unpersist the scored subtrees `gate()` cached and the
        signature frames its decontamination stage cached."""
        while self._cached:
            self._cached.pop().unpersist()
        self.eval_mh.release_cache()

    def manifest(self, docs: DataFrame) -> DataFrame:
        """The full export artifact from live state: gate the frame,
        attach the release-time leakage-safe split (corpus-global
        clustering — a batch stage in both faces, over the SAME full
        frame the batch pipeline splits), emit the per-(split, shard)
        manifest via the shared tail."""
        from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
            leakage_safe_split_frame,
        )

        kept = self.gate(docs)
        splits = leakage_safe_split_frame(docs).select("doc_id", "split")
        return self._q.split_manifest_tail(kept.join(splits, "doc_id"))


def run_streaming_curation(
    spark: SparkSession,
    docs_dir: str,
    state_root: str,
    files_per_trigger: int = 2,
    checkpoint_dir: str | None = None,
) -> StreamingCurationPipeline:
    """Drain a documents directory as micro-batches into the composed
    curation state (same harness as every face — production swaps the
    source to Kafka in `streaming/drain.py`, once); returns the
    pipeline for `gate()` / `manifest()`."""
    pipe = StreamingCurationPipeline(spark, state_root)
    run_face(
        lambda h: drain_file_source(spark, docs_dir, h, files_per_trigger, checkpoint_dir),
        [pipe.kn.agg.state, pipe.dedup.agg.state, pipe.eval_mh.agg.state],
        pipe.process_batch,
        checkpoint_dir,
    )
    return pipe
