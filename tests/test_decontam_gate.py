"""Streaming decontamination gate: the incrementally-maintained eval
13-gram set must gate training docs EXACTLY like the batch
`decontaminate_eval_ngram13` query — under any micro-batching of the
eval stream, under retraction of a withdrawn benchmark, and through
the shared drain harness.
"""

from __future__ import annotations

import pytest

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_SMOKE
from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
    decontaminate_eval_ngram13,
)
from query_processing_over_streaming_data_using_flink_spark.sources.catalog import load_table
from query_processing_over_streaming_data_using_flink_spark.streaming.decontam_gate import (
    IncrementalNgramDecontam,
    run_streaming_decontam,
)


def _rows(df):
    return sorted(
        (r["doc_id"], r["n_ngrams"], r["n_hit_ngrams"], r["contaminated"])
        for r in df.collect()
    )


def test_streamed_gate_equals_batch_query(spark, tmp_path):
    """Eval docs folded in three arbitrary micro-batches, then flag()
    over the training side == the registered batch query exactly."""
    docs = load_table(spark, SF_SMOKE, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 7 == 0)
    train_docs = docs.filter(F.col("doc_id") % 7 != 0)

    pipe = IncrementalNgramDecontam(spark, str(tmp_path / "state"))
    for e in range(3):
        pipe.process_batch(eval_docs.filter(F.col("doc_id") % 3 == e), e + 1)
    got = _rows(pipe.flag(train_docs))
    want = _rows(decontaminate_eval_ngram13(spark, SF_SMOKE))
    assert got == want
    assert any(r[3] for r in got), "fixture should contain planted collisions"
    # compaction folds the gram log — same gate
    pipe.agg.state.compact()
    assert _rows(pipe.flag(train_docs)) == want


def test_streamed_gate_retraction(spark, tmp_path):
    """A withdrawn benchmark (insert then retract) stops gating: after
    insert(eval) + insert(noise) + retract(noise) the gate equals the
    eval-only batch gate; a training doc colliding ONLY with the
    retracted noise is no longer flagged."""
    docs = load_table(spark, SF_SMOKE, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 7 == 0)
    train_docs = docs.filter(F.col("doc_id") % 7 != 0)
    # the "noise benchmark" is a training doc verbatim — while live it
    # MUST flag that doc (13 shared tokens with itself), after
    # retraction it must not
    noise = train_docs.orderBy("doc_id").limit(1)
    noise_id = noise.first()["doc_id"]

    pipe = IncrementalNgramDecontam(spark, str(tmp_path / "state"))
    pipe.process_batch(eval_docs.withColumn("op", F.lit(1)), 1)
    pipe.process_batch(noise.withColumn("op", F.lit(1)), 2)
    flagged_live = {r[0]: r[3] for r in _rows(pipe.flag(train_docs))}
    assert flagged_live[noise_id], "self-collision with the live noise benchmark"

    pipe.process_batch(noise.withColumn("op", F.lit(-1)), 3)
    want = _rows(decontaminate_eval_ngram13(spark, SF_SMOKE))
    assert _rows(pipe.flag(train_docs)) == want


def test_same_batch_version_update_lands(spark, tmp_path):
    """A benchmark VERSION UPDATE inside one micro-batch —
    retract(old text) + insert(new text) for the same eval doc — must
    swap the gram set (per-version shingling; doc-keyed shingling
    would attach both ops to every gram and cancel the update)."""
    mk = lambda text: spark.createDataFrame(  # noqa: E731
        [(7, text)], "doc_id long, text string"
    )
    old = " ".join(f"oldtok{i}" for i in range(20))
    new = " ".join(f"newtok{i}" for i in range(20))
    pipe = IncrementalNgramDecontam(spark, str(tmp_path / "state"))
    pipe.process_batch(mk(old), 1)
    both = mk(old).withColumn("op", F.lit(-1)).unionByName(
        mk(new).withColumn("op", F.lit(1))
    )
    pipe.process_batch(both, 2)

    train_old = spark.createDataFrame([(1, old)], "doc_id long, text string")
    train_new = spark.createDataFrame([(2, new)], "doc_id long, text string")
    assert not [r for r in pipe.flag(train_old).collect() if r["contaminated"]], (
        "withdrawn version still gating"
    )
    hits = [r for r in pipe.flag(train_new).collect() if r["contaminated"]]
    assert [r["doc_id"] for r in hits] == [2], "updated version not registered"


@pytest.mark.slow  # harness plumbing soak: gate equality stays attested by
# test_streamed_gate_equals_batch_query; the drain harness itself by
# the export-manifest and streaming suites
def test_streamed_gate_through_drain_harness(spark, tmp_path):
    """End-to-end through drain_file_source (the face production runs):
    eval docs written as a multi-file directory, drained as
    micro-batches, gate == batch."""
    docs = load_table(spark, SF_SMOKE, "documents")
    eval_dir = str(tmp_path / "eval_docs")
    docs.filter(F.col("doc_id") % 7 == 0).repartition(4).write.parquet(eval_dir)

    pipe = run_streaming_decontam(
        spark, eval_dir, str(tmp_path / "state"), files_per_trigger=1
    )
    got = _rows(pipe.flag(docs.filter(F.col("doc_id") % 7 != 0)))
    assert got == _rows(decontaminate_eval_ngram13(spark, SF_SMOKE))
