"""Continuously-maintained corpus export manifest — the streaming face
of `plans/suite_llm_data.py:export_shard_manifest`.

A curation pipeline that ingests documents continuously wants to know,
at any moment, what an export STARTED NOW would contain — without
re-scanning the corpus. Per shard, three of the manifest's four
measures are signed-weight associative folds and so maintain
incrementally under inserts AND retractions (right-to-be-forgotten
deletes subtract their mass exactly):

- ``n_docs``      — Σ op                         (plain integer sum)
- ``total_chars`` — Σ op·len(text)               (plain integer sum)
- ``content_fp``  — Σ op·md5₆₀(text)  mod 2^61-1 (MODULAR integer sum)

The modular fold needs more than ``F.sum``: per-doc hashes are 60-bit,
so nine of them overflow int64. Each epoch's delta is therefore
reduced to a residue in [0, p) (exact decimal sum, then ``pmod``), and
the state log folds with ``pmod(sum(decimal), p)`` — associative and
commutative, so any micro-batching, redelivery-skip, or compaction
order yields the bit-identical residue the batch manifest computes. A
retraction epoch contributes ``p - r``: the group that loses all its
documents folds to exactly 0 and liveness filtering drops it.

``order_fp`` is deliberately NOT maintained here: it certifies the
row order of a WRITTEN export artifact, and an insertion shifts the
positions of every later document in its shard — it is a property of
the point-in-time export (a batch act), not of the live corpus. At
export time, run the batch `export_shard_manifest` over the exported
snapshot; its n_docs/total_chars/content_fp must equal this live view
(tested), and it adds order_fp for the artifact.

State: 64 groups × 3 int64 measures on the shared crash-atomic
versioned bucketed store — bounded regardless of corpus size; per-epoch
cost is O(Δdocs) with full map-side combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from query_processing_over_streaming_data_using_flink_spark.streaming.drain import drain_file_source, run_face
from query_processing_over_streaming_data_using_flink_spark.streaming.incragg import IncrementalGroupedAgg


class IncrementalShardManifest:
    """foreachBatch handler maintaining the live shard manifest."""

    def __init__(self, spark: SparkSession, state_dir: str):
        from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
            _FP_MOD,
            shard_doc_frame,
        )

        self.fp_mod = _FP_MOD

        def delta(batch: DataFrame) -> DataFrame:
            d = shard_doc_frame(batch, extra=("op",))
            return d.groupBy("shard_id").agg(
                F.sum("op").cast("long").alias("n_docs"),
                F.sum(F.col("op") * F.col("n_chars_txt")).cast("long").alias(
                    "total_chars"
                ),
                F.pmod(
                    F.sum(
                        (F.col("op") * F.col("fp")).cast("decimal(38,0)")
                    ),
                    F.lit(_FP_MOD),
                )
                .cast("long")
                .alias("fp_res"),
            )

        def mod_fold(m: str) -> F.Column:
            return F.pmod(
                F.sum(F.col(m).cast("decimal(38,0)")), F.lit(_FP_MOD)
            ).cast("long")

        self.agg = IncrementalGroupedAgg(
            spark,
            state_dir,
            group_cols=["shard_id"],
            measure_cols=["n_docs", "total_chars", "fp_res"],
            schema="bucket int, shard_id long, n_docs long, total_chars long, fp_res long",
            delta_fn=delta,
            fold_exprs={"fp_res": mod_fold},
        )

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        self.agg.process_batch(batch, epoch_id)

    def manifest(self) -> DataFrame:
        """(shard_id, n_docs, total_chars, content_fp) for live shards —
        bit-equal to the batch `export_shard_manifest` (minus order_fp)
        over the net ingested corpus."""
        return (
            self.agg.result()
            .filter(F.col("n_docs") != 0)
            .select(
                "shard_id",
                "n_docs",
                "total_chars",
                F.col("fp_res").alias("content_fp"),
            )
        )


def run_streaming_manifest(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    files_per_trigger: int = 2,
    checkpoint_dir: str | None = None,
) -> IncrementalShardManifest:
    """Drain a documents directory as micro-batches into the live
    manifest (the same file-source harness as `run_streaming_lm_train`
    — in production the source is the ingest stream's Kafka topic);
    returns the pipeline for `manifest()`."""
    pipe = IncrementalShardManifest(spark, state_dir)
    run_face(
        lambda h: drain_file_source(spark, docs_dir, h, files_per_trigger, checkpoint_dir),
        [pipe.agg.state],
        pipe.process_batch,
        checkpoint_dir,
    )
    return pipe
