"""Streaming sequence packing — the cross-batch form of
`plans/suite_llm_data.py:pack_sequences_bpe` (driver mandate §2.11; no
reference counterpart): an unbounded document stream is packed into
fixed token-budget training sequences per language, with EXACT BPE
token counts (`operators/bpe.py`) and a per-language cursor carried
across micro-batches.

Why stateful: packing is a running sum — a doc's (seq_id, seq_offset)
depends on every token admitted before it. Batch packing re-sorts the
corpus; the streaming form assigns each arriving doc its final
position immediately (arrival order within a language lane is the
packing order), so a training shard can be cut the moment its budget
fills, while ingest continues.

State discipline (the engine's standard): the `cursor` table of the
shared crash-atomic `VersionedBucketedState` gets one row per language
per epoch (that epoch's token mass); a lane's cursor is the sum of its
rows, and compaction folds them to one (`_fold`, the table's declared
fold). Each epoch's assignments
(doc → seq) are its store output, so a redelivered epoch returns its
recorded assignments instead of double-spending the budget —
exactly-once packing under foreachBatch redelivery. Per-epoch cost is
the batch's tokenizer pass plus a per-lane window over the batch;
state reads prune to the buckets the batch's languages hash into.

Equivalence: feeding batches in doc_id order reproduces the batch
`pack_sequences_bpe` assignment exactly (tested) — the stream==batch
convergence criterion applied to the packing operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from query_processing_over_streaming_data_using_flink_spark.operators import bpe as bp
from query_processing_over_streaming_data_using_flink_spark.streaming.state_table import (
    VersionedBucketedState,
)


def _fold(cursor: DataFrame) -> DataFrame:
    """One cursor row per lane: the sum of its per-epoch rows."""
    return cursor.groupBy("bucket", "lang").agg(F.sum("spent").alias("spent"))


class IncrementalSequencePacker:
    """foreachBatch handler assigning (seq_id, seq_offset) to each
    arriving document under a per-language token budget."""

    _TABLES = {"cursor": "bucket int, lang string, spent long"}
    _OUTPUT = "doc_id long, lang string, n_tokens long, seq_id long, seq_offset long"

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        budget_tokens: int = 2048,
        merges: tuple[tuple[str, str], ...] = bp.DEFAULT_MERGES,
    ) -> None:
        self.spark = spark
        self.budget = budget_tokens
        self.merges = merges
        self.state = VersionedBucketedState(
            spark, state_dir, self._TABLES, output=self._OUTPUT, folds={"cursor": _fold}
        )

    def packed_df(self) -> DataFrame:
        """Everything committed so far (doc_id, lang, n_tokens, seq_id,
        seq_offset, epoch)."""
        return self.state.outputs()

    def process_batch(self, batch: DataFrame, epoch: int) -> DataFrame:
        """Pack one micro-batch of (doc_id, lang, text) rows. Returns
        and records (doc_id, lang, n_tokens, seq_id, seq_offset)."""
        def pack() -> None:
            counts = bp.bpe_token_counts(batch, self.merges).select(
                "doc_id", F.col("n_tokens_bpe").alias("n_tokens")
            )
            rows = (
                batch.select("doc_id", "lang")
                .join(counts, "doc_id")
                .withColumn("bucket", self.state.bucket_of("lang"))
            )
            w = (
                Window.partitionBy("lang")
                .orderBy("doc_id")
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            rows = rows.withColumn(
                "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
            ).persist()
            touched = _fold(self.state.restrict(self.state.read("cursor"), rows))
            carried = rows.join(
                touched.select("lang", "spent"), "lang", "left"
            ).withColumn("offset", F.coalesce(F.col("spent"), F.lit(0)) + F.col("cum_before"))
            out = carried.select(
                "doc_id",
                "lang",
                "n_tokens",
                F.floor(F.col("offset") / self.budget).cast("long").alias("seq_id"),
                (F.col("offset") % self.budget).cast("long").alias("seq_offset"),
            )
            # This batch's token mass per lane is appended as a cursor row.
            batch_mass = rows.groupBy("bucket", "lang").agg(F.sum("n_tokens").alias("spent"))
            self.state.stage(batch_mass, "cursor")
            self.state.stage_output(out)
            rows.unpersist()

        # A redelivered epoch returns its recorded assignments rather
        # than re-spending the budget.
        self.state.apply(epoch, pack)
        return self.state.output(epoch)
