"""Streaming shard-manifest face: the incrementally-maintained
(n_docs, total_chars, content_fp) per shard must be bit-equal to the
batch `export_shard_manifest` over the net ingested corpus, under any
micro-batching, retraction, redelivery, and compaction.

The sf0.001 fixture has ~600 docs over 64 shards (~9-10 per shard) —
enough that a shard's RAW 60-bit hash sum would overflow int64 (nine
hashes suffice), so the modular-residue fold is genuinely exercised,
not just the trivial small-sum path.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_SMOKE
from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
    export_shard_manifest,
)
from query_processing_over_streaming_data_using_flink_spark.streaming.export_manifest import (
    IncrementalShardManifest,
)


def _rows(df):
    return sorted(
        (r["shard_id"], r["n_docs"], r["total_chars"], r["content_fp"])
        for r in df.collect()
    )


def _batch_rows(spark, sf_dir):
    return _rows(
        export_shard_manifest(spark, sf_dir).select(
            "shard_id", "n_docs", "total_chars", "content_fp"
        )
    )


def test_streamed_manifest_equals_batch(spark, tmp_path):
    """Three arbitrary micro-batches of the smoke corpus fold to the
    exact batch manifest (minus order_fp, which belongs to a written
    export, not the live corpus)."""
    docs = spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    pipe = IncrementalShardManifest(spark, str(tmp_path / "state"))
    for e in range(3):
        pipe.process_batch(docs.filter(F.col("doc_id") % 3 == e), e + 1)
    assert _rows(pipe.manifest()) == _batch_rows(spark, SF_SMOKE)
    # compaction folds the 3-epoch log to one row per group — same view
    pipe.agg.state.compact()
    assert _rows(pipe.manifest()) == _batch_rows(spark, SF_SMOKE)


def test_streamed_manifest_retraction_and_redelivery(spark, tmp_path):
    """Deleting ingested docs subtracts their mass exactly: after
    insert(base) + insert(extra) + retract(extra) the manifest equals
    the batch manifest over base alone; a redelivered epoch is a
    no-op. A fully-retracted corpus folds to an empty manifest."""
    docs = spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    base = docs.filter(F.col("doc_id") % 4 != 0)
    extra = docs.filter(F.col("doc_id") % 4 == 0)

    base_dir = str(tmp_path / "base_sf")
    os.makedirs(base_dir)
    base.write.parquet(os.path.join(base_dir, "documents.parquet"))
    expect = _batch_rows(spark, base_dir)

    pipe = IncrementalShardManifest(spark, str(tmp_path / "state"))
    pipe.process_batch(base.withColumn("op", F.lit(1)), 1)
    pipe.process_batch(extra.withColumn("op", F.lit(1)), 2)
    pipe.process_batch(extra.withColumn("op", F.lit(-1)), 3)
    assert _rows(pipe.manifest()) == expect

    # redelivery of an already-committed epoch must not double-retract
    pipe.process_batch(extra.withColumn("op", F.lit(-1)), 3)
    assert _rows(pipe.manifest()) == expect

    # retract the rest: every group cancels, liveness drops all rows
    pipe.process_batch(base.withColumn("op", F.lit(-1)), 4)
    pipe.agg.state.compact()
    assert _rows(pipe.manifest()) == []


def test_streamed_manifest_restarts_from_state(spark, tmp_path):
    """A new handler over the same state dir resumes: the committed
    epochs are skipped on replay and the view is unchanged."""
    docs = spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    d1 = docs.filter(F.col("doc_id") % 2 == 0)
    d2 = docs.filter(F.col("doc_id") % 2 == 1)
    state = str(tmp_path / "state")
    pipe = IncrementalShardManifest(spark, state)
    pipe.process_batch(d1, 1)
    resumed = IncrementalShardManifest(spark, state)
    resumed.process_batch(d2, 2)
    assert _rows(resumed.manifest()) == _batch_rows(spark, SF_SMOKE)
    resumed.process_batch(d1, 1)  # replayed old epoch: no-op
    assert _rows(resumed.manifest()) == _batch_rows(spark, SF_SMOKE)


def test_modular_fold_is_batching_invariant_property():
    """Pure-model property (no Spark): the state machinery folds
    per-epoch residues with pmod(sum, p) — for ANY sequence of signed
    per-doc hash contributions and ANY partition of it into epochs,
    the fold must equal the batch residue of the live mass. This is
    the algebraic fact the streaming face's stream==batch equality
    rests on; hypothesis searches for a batching that breaks it."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    P = 2305843009213693951

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=(1 << 60) - 1),  # fp
                st.sampled_from([1, -1]),  # op
            ),
            max_size=60,
        ),
        st.data(),
    )
    def check(events, data):
        # carve the event list into arbitrary contiguous epochs
        cuts = sorted(
            data.draw(
                st.lists(
                    st.integers(min_value=0, max_value=len(events)), max_size=6
                )
            )
        )
        bounds = [0, *cuts, len(events)]
        epochs = [events[a:b] for a, b in zip(bounds, bounds[1:])]
        # delta_fn: each epoch reduces to a residue in [0, p)
        deltas = [sum(op * fp for fp, op in ep) % P for ep in epochs]
        # fold rule: pmod(sum(residues), p)
        folded = sum(deltas) % P
        batch = sum(op * fp for fp, op in events) % P
        assert folded == batch
        # a fully-cancelled stream must fold to exactly 0 (liveness)
        cancelled = [(fp, 1) for fp, _ in events] + [(fp, -1) for fp, _ in events]
        assert sum(op * fp for fp, op in cancelled) % P == 0

    check()


def test_run_streaming_manifest_file_source(spark, tmp_path):
    """The Structured Streaming harness (readStream file source +
    foreachBatch) drains the corpus into the same live manifest the
    direct-batch path produces."""
    from query_processing_over_streaming_data_using_flink_spark.streaming.export_manifest import (
        run_streaming_manifest,
    )

    d = str(tmp_path / "docs")
    spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet")).repartition(
        5
    ).write.parquet(d)
    pipe = run_streaming_manifest(spark, d, str(tmp_path / "state"), files_per_trigger=2)
    assert _rows(pipe.manifest()) == _batch_rows(spark, SF_SMOKE)
