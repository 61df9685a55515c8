"""Streaming SPAN-level decontamination gate: the incrementally-
maintained eval span-shingle table must gate training docs EXACTLY
like the batch `decontaminate_eval_substring` query — under any
micro-batching, under retraction of a withdrawn benchmark, under a
same-micro-batch version update, and through the shared drain harness.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_SMOKE
from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
    decontaminate_eval_substring,
)
from query_processing_over_streaming_data_using_flink_spark.sources.catalog import load_table
from query_processing_over_streaming_data_using_flink_spark.streaming.substring_decontam import (
    IncrementalSubstringDecontam,
    run_streaming_substring_decontam,
)


def _rows(df):
    return sorted(
        (
            r["doc_id"],
            r["n_eval_sources"],
            r["n_spans"],
            r["max_span_len"],
            r["is_clean"],
        )
        for r in df.collect()
    )


def _docs_df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string"
    )


def test_streamed_span_gate_equals_batch_query(spark, tmp_path):
    """Eval-slice docs folded in three arbitrary micro-batches, then
    flag() over the training side == the registered batch query
    exactly — including max_span_len, which needs the POSITIONS the
    state carries. Compaction preserves the gate."""
    docs = load_table(spark, SF_SMOKE, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 7 == 0)
    train_docs = docs.filter(F.col("doc_id") % 7 != 0)

    pipe = IncrementalSubstringDecontam(spark, str(tmp_path / "state"))
    for e in range(3):
        pipe.process_batch(eval_docs.filter(F.col("doc_id") % 3 == e), e + 1)
    got = _rows(pipe.flag(train_docs))
    want = _rows(decontaminate_eval_substring(spark, SF_SMOKE))
    assert got == want
    assert any(not r[4] for r in got), "fixture should contain planted spans"
    pipe.agg.state.compact()
    assert _rows(pipe.flag(train_docs)) == want


def test_streamed_span_gate_retraction_unflags(spark, tmp_path):
    """A withdrawn benchmark stops gating: insert an eval doc sharing a
    25-token run with a training doc (flagged, max_span_len 25), then
    retract it — the training doc comes back clean."""
    run = " ".join(f"leak{j}" for j in range(25))
    eval_doc = _docs_df(spark, [(7, "src2", "en", f"intro words {run}")])
    train = _docs_df(
        spark, [(1, "src1", "en", f"{run} trailing words here")]
    )

    pipe = IncrementalSubstringDecontam(spark, str(tmp_path / "state"))
    pipe.process_batch(eval_doc, 1)
    got = _rows(pipe.flag(train))
    assert got == [(1, 1, 1, 25, False)]

    pipe.process_batch(eval_doc.withColumn("op", F.lit(-1)), 2)
    assert _rows(pipe.flag(train)) == [(1, 0, 0, 0, True)]
    assert pipe.live_shingles().count() == 0


def test_streamed_span_gate_same_batch_version_update(spark, tmp_path):
    """retract(old text) + insert(new text) for one eval doc inside ONE
    micro-batch must land the new version (content-keyed shingle rows;
    doc-keyed rows would cancel the update to a no-op)."""
    old_run = " ".join(f"old{j}" for j in range(25))
    new_run = " ".join(f"new{j}" for j in range(25))
    pipe = IncrementalSubstringDecontam(spark, str(tmp_path / "state"))
    pipe.process_batch(_docs_df(spark, [(7, "src2", "en", old_run)]), 1)

    both = _docs_df(spark, [(7, "src2", "en", old_run)]).withColumn(
        "op", F.lit(-1)
    ).unionByName(
        _docs_df(spark, [(7, "src2", "en", new_run)]).withColumn("op", F.lit(1))
    )
    pipe.process_batch(both, 2)

    train_old = _docs_df(spark, [(1, "src1", "en", old_run)])
    train_new = _docs_df(spark, [(2, "src1", "en", new_run)])
    assert _rows(pipe.flag(train_old)) == [(1, 0, 0, 0, True)], (
        "withdrawn version still gating"
    )
    assert _rows(pipe.flag(train_new)) == [(2, 1, 1, 25, False)], (
        "updated version not registered"
    )


def test_streamed_span_gate_through_drain_harness(spark, tmp_path):
    """End-to-end through drain_file_source: stage the eval slice as a
    parquet directory, drain it as micro-batches, flag == batch."""
    docs = load_table(spark, SF_SMOKE, "documents")
    eval_dir = str(tmp_path / "eval_src")
    docs.filter(F.col("doc_id") % 7 == 0).repartition(3).write.parquet(eval_dir)

    pipe = run_streaming_substring_decontam(
        spark, eval_dir, str(tmp_path / "state"), files_per_trigger=1
    )
    got = _rows(pipe.flag(docs.filter(F.col("doc_id") % 7 != 0)))
    want = _rows(decontaminate_eval_substring(spark, SF_SMOKE))
    assert got == want


def test_streamed_span_gate_restart_from_state(spark, tmp_path):
    """A new instance attached to the same state dirs reproduces the
    gate exactly (crash/restart recovery), and a redelivered epoch is
    a no-op after the restart (exactly-once across processes)."""
    run = " ".join(f"leak{j}" for j in range(25))
    eval_doc = _docs_df(spark, [(7, "src2", "en", f"intro words {run}")])
    train = _docs_df(spark, [(1, "src1", "en", f"{run} trailing words here")])

    state = str(tmp_path / "state")
    pipe = IncrementalSubstringDecontam(spark, state)
    pipe.process_batch(eval_doc, 1)
    want = _rows(pipe.flag(train))
    assert want == [(1, 1, 1, 25, False)]

    pipe2 = IncrementalSubstringDecontam(spark, state)  # restart
    assert _rows(pipe2.flag(train)) == want
    pipe2.process_batch(eval_doc, 1)  # redelivery after restart: no-op
    assert _rows(pipe2.flag(train)) == want
    assert pipe2.live_shingles().count() == pipe.live_shingles().count()


def _burn_rows(df):
    return sorted(
        (
            r["doc_id"],
            r["n_tokens"],
            r["n_burned_tokens"],
            r["burn_ratio"],
            r["cleaned_md5"],
        )
        for r in df.collect()
    )


def test_streamed_span_burn_equals_batch_rewrite(spark, tmp_path):
    """burn() over the training side from micro-batched eval state ==
    the registered batch `decontaminate_eval_substring_rewrite` query
    bit-for-bit — including the md5 of every reassembled text."""
    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
        decontaminate_eval_substring_rewrite,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 7 == 0)
    train_docs = docs.filter(F.col("doc_id") % 7 != 0)

    pipe = IncrementalSubstringDecontam(spark, str(tmp_path / "state"))
    for e in range(3):
        pipe.process_batch(eval_docs.filter(F.col("doc_id") % 3 == e), e + 1)
    got = _burn_rows(pipe.burn(train_docs))
    want = _burn_rows(decontaminate_eval_substring_rewrite(spark, SF_SMOKE))
    assert got == want
    assert any(r[2] > 0 for r in got), "fixture should contain burned spans"


def test_streamed_span_burn_retraction_restores_text(spark, tmp_path):
    """After retracting the leaking benchmark, burn() must return the
    training doc UNTOUCHED — md5 of the original text, zero burned."""
    import hashlib

    run = " ".join(f"leak{j}" for j in range(25))
    train_text = f"{run} trailing words here"
    eval_doc = _docs_df(spark, [(7, "src2", "en", f"intro words {run}")])
    train = _docs_df(spark, [(1, "src1", "en", train_text)])

    pipe = IncrementalSubstringDecontam(spark, str(tmp_path / "state"))
    pipe.process_batch(eval_doc, 1)
    burned = _burn_rows(pipe.burn(train))
    assert burned[0][0] == 1 and burned[0][2] == 25

    pipe.process_batch(eval_doc.withColumn("op", F.lit(-1)), 2)
    restored = _burn_rows(pipe.burn(train))
    assert restored == [
        (1, 28, 0, 0.0, hashlib.md5(train_text.encode()).hexdigest())
    ]
