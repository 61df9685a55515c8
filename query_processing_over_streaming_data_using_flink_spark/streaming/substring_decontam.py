"""Continuously-maintained SPAN-level decontamination gate — the
streaming face of `plans/suite_llm_data.py:decontaminate_eval_substring`
(the longest-contiguous-overlap check the GPT-4/Llama eval-hygiene
reports run), completing the streaming decontamination ladder next to
the 13-gram gate (`streaming/decontam_gate.py`) and the MinHash gate
(`streaming/curation.py:IncrementalEvalMinhash`).

The eval side's POSITION-BEARING shingle table (doc, pos, h) is the
maintained state — positions are what the batch query's diagonal run
merge needs, so keeping only distinct hashes (the 13-gram gate's
state) would lose `max_span_len`, the number the report quotes.
Rows are signed-weight: inserts add an eval doc's shingle rows,
retractions (op = −1, a withdrawn benchmark) remove them, and a
version update delivered inside one micro-batch lands via the
content-derived doc key (the `decontam_gate` fix: fold versions per
(doc_id, text) FIRST, then shingle each surviving version under its
own key — doc-keyed rows would attach both ops to both texts and net
the update to 0).

`flag()` screens a training frame with the batch machinery itself
(`operators/dedup.py:cross_snapshot_substring_from_shingles` — the
shingle join + per-(pair, diagonal) run merge, history side = the live
state), so stream==batch equality is structural. State is bounded by
the eval corpus's token positions (benchmark-sized in production, so
the flag join's history side broadcasts under AQE); per-epoch cost is
O(Δ eval docs × positions/doc) with full map-side combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from query_processing_over_streaming_data_using_flink_spark.operators import dedup as dd
from query_processing_over_streaming_data_using_flink_spark.streaming.drain import drain_file_source, run_face
from query_processing_over_streaming_data_using_flink_spark.streaming.incragg import IncrementalGroupedAgg


class IncrementalSubstringDecontam:
    """foreachBatch handler maintaining the eval span-shingle table;
    `flag()` gates training docs against the current state with the
    batch `decontaminate_eval_substring` output shape."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        span_tokens: int | None = None,
    ):
        from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
            _SPAN_TOKENS_Q,
        )

        self.k = _SPAN_TOKENS_Q if span_tokens is None else span_tokens

        def delta(batch: DataFrame) -> DataFrame:
            from query_processing_over_streaming_data_using_flink_spark.functions.scalar import md5_hash64

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
            sh = dd._span_shingles(keyed, self.k)
            return (
                sh.join(keyed.select("doc_id", "op"), "doc_id")
                .groupBy(
                    F.col("doc_id").alias("doc_h"),
                    F.col("pos").alias("pos_h"),
                    "h",
                )
                .agg(F.sum("op").cast("long").alias("net"))
            )

        self.agg = IncrementalGroupedAgg(
            spark,
            state_dir,
            group_cols=["doc_h", "pos_h", "h"],
            measure_cols=["net"],
            schema="bucket int, doc_h long, pos_h int, h long, net long",
            delta_fn=delta,
        )

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        self.agg.process_batch(batch, epoch_id)

    def live_shingles(self) -> DataFrame:
        """(doc_h, pos_h, h) of the net (insert − retract) eval corpus
        — the history side the batch machinery joins against."""
        return (
            self.agg.result()
            .filter(F.col("net") > 0)
            .select("doc_h", "pos_h", "h")
        )

    def flag(self, docs: DataFrame) -> DataFrame:
        """Per-training-doc span report against the LIVE eval state —
        the batch `decontaminate_eval_substring` output shape (doc_id,
        n_eval_sources, n_spans, max_span_len, is_clean). doc_h in the
        state is a content-derived key, but each eval doc holds one
        live version, so the distinct-source count matches the batch
        query's distinct-doc count exactly."""
        out = dd.cross_snapshot_substring_from_shingles(
            self.live_shingles(), docs, self.k
        )
        return out.select(
            "doc_id",
            F.col("n_dup_sources").alias("n_eval_sources"),
            "n_spans",
            "max_span_len",
            F.col("is_novel").alias("is_clean"),
        )

    def burn(self, docs: DataFrame) -> DataFrame:
        """Span-BURN rewrite against the LIVE eval state — the batch
        `decontaminate_eval_substring_rewrite` output shape (doc_id,
        n_tokens, n_burned_tokens, burn_ratio, cleaned_md5): every
        training-doc token position covered by a ≥ K-token run shared
        with the maintained eval corpus is stripped and the text
        reassembled, md5-verified. Same from-shingles core as the
        batch query (`operators/dedup.py:
        cross_substring_burn_from_shingles`), so stream==batch
        equality is structural."""
        return dd.cross_substring_burn_from_shingles(
            self.live_shingles(), docs, self.k
        )


def run_streaming_substring_decontam(
    spark: SparkSession,
    eval_docs_dir: str,
    state_dir: str,
    files_per_trigger: int = 2,
    checkpoint_dir: str | None = None,
) -> IncrementalSubstringDecontam:
    """Drain an eval-documents directory as micro-batches into the gate
    state (same harness as every other face — in production the source
    is the benchmark registry's change stream); returns the pipeline
    for `flag()`."""
    pipe = IncrementalSubstringDecontam(spark, state_dir)
    run_face(
        lambda h: drain_file_source(spark, eval_docs_dir, h, files_per_trigger, checkpoint_dir),
        [pipe.agg.state],
        pipe.process_batch,
        checkpoint_dir,
    )
    return pipe
