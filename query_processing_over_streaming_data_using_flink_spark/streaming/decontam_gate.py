"""Continuously-maintained benchmark-decontamination gate — the
streaming face of `plans/suite_llm_data.py:decontaminate_eval_ngram13`.

Benchmark suites are not static: eval sets are added, versioned, and
occasionally withdrawn. This face maintains the eval-side 13-gram hash
set as SIGNED-WEIGHT state (net document count per gram hash) while
eval documents stream in — inserts add a gram's count, retractions
(op = −1, e.g. a withdrawn benchmark) subtract it, and a gram whose
every eval doc retracted folds to 0 and stops gating. `flag()` then
screens any training-document frame against the LIVE gram set with the
exact per-doc collision report the batch query produces.

State is bounded by the DISTINCT 13-grams of the eval corpus — in
production a few benchmark suites, not the training corpus — on the
shared crash-atomic versioned bucketed store; per-epoch cost is
O(Δ eval docs × grams/doc) with full map-side combine. The gate join in
`flag()` is the batch plan unchanged: at scale the live gram set is
benchmark-sized and AQE broadcasts it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from query_processing_over_streaming_data_using_flink_spark.operators import text as tx
from query_processing_over_streaming_data_using_flink_spark.streaming.drain import drain_file_source, run_face
from query_processing_over_streaming_data_using_flink_spark.streaming.incragg import IncrementalGroupedAgg


class IncrementalNgramDecontam:
    """foreachBatch handler maintaining the eval 13-gram set; `flag()`
    gates training docs against the current state."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        k: int | None = None,
    ):
        from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
            NGRAM_DECONTAM_K,
        )

        self.k = NGRAM_DECONTAM_K if k is None else k

        def delta(batch: DataFrame) -> DataFrame:
            from query_processing_over_streaming_data_using_flink_spark.functions.scalar import md5_hash64

            # Grams must be attributed per (doc, CONTENT VERSION): a
            # benchmark version update delivers retract(old) +
            # insert(new) for one doc_id in one micro-batch, and
            # joining doc-keyed gram rows back to doc-keyed ops would
            # attach BOTH ops to every gram of both texts — netting
            # the whole update to 0. Fold identical versions first,
            # then shingle each surviving version under its own key.
            vers = (
                batch.groupBy("doc_id", "text")
                .agg(F.sum("op").cast("long").alias("op"))
                .filter(F.col("op") != 0)
            )
            keyed = vers.select(
                md5_hash64(
                    F.concat_ws(" ", F.col("doc_id").cast("string"), F.col("text"))
                ).alias("doc_id"),
                "text",
                "op",
            )
            grams = tx.shingle_hash_rows(keyed, k=self.k)
            return (
                grams.join(keyed.select("doc_id", "op"), "doc_id")
                .groupBy("h")
                .agg(F.sum("op").cast("long").alias("net_docs"))
            )

        self.agg = IncrementalGroupedAgg(
            spark,
            state_dir,
            group_cols=["h"],
            measure_cols=["net_docs"],
            schema="bucket int, h long, net_docs long",
            delta_fn=delta,
        )

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        self.agg.process_batch(batch, epoch_id)

    def live_grams(self) -> DataFrame:
        """Distinct 13-gram hashes of the net (insert − retract) eval
        corpus — the gate set."""
        return (
            self.agg.result().filter(F.col("net_docs") > 0).select("h")
        )

    def flag(self, docs: DataFrame) -> DataFrame:
        """Per-doc collision report for a training-doc frame against
        the live eval gram set — the batch
        `decontaminate_eval_ngram13` output shape (doc_id, n_ngrams,
        n_hit_ngrams, contaminated)."""
        grams = tx.shingle_hash_rows(docs, k=self.k)
        totals = grams.groupBy("doc_id").agg(F.count("*").alias("n_ngrams"))
        hits = (
            grams.join(self.live_grams().withColumnRenamed("h", "eh"),
                       F.col("h") == F.col("eh"))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_hit"))
        )
        return totals.join(hits, "doc_id", "left").select(
            "doc_id",
            "n_ngrams",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit_ngrams"),
            (F.coalesce(F.col("n_hit"), F.lit(0)) > 0).alias("contaminated"),
        )


def run_streaming_decontam(
    spark: SparkSession,
    eval_docs_dir: str,
    state_dir: str,
    files_per_trigger: int = 2,
    checkpoint_dir: str | None = None,
) -> IncrementalNgramDecontam:
    """Drain an eval-documents directory as micro-batches into the gate
    state (same harness as every other face — in production the source
    is the benchmark registry's change stream); returns the pipeline
    for `flag()`."""
    pipe = IncrementalNgramDecontam(spark, state_dir)
    run_face(
        lambda h: drain_file_source(spark, eval_docs_dir, h, files_per_trigger, checkpoint_dir),
        [pipe.agg.state],
        pipe.process_batch,
        checkpoint_dir,
    )
    return pipe
