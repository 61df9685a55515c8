"""Streaming face of the COMPLETE curation pipeline
(`streaming/curation.py`): the composed live state (KN LM +
exact-dedup fingerprint index + eval MinHash signatures) must
reproduce `curation_pipeline_full`'s export manifest BIT-FOR-BIT, and
each new state index must honor retraction semantics the batch
operators define (canonical promotion, benchmark withdrawal).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_SMOKE
from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
    decontaminate_eval_minhash,
)
from query_processing_over_streaming_data_using_flink_spark.plans.suite_quality import (
    curation_pipeline_full,
)
from query_processing_over_streaming_data_using_flink_spark.sources.catalog import load_table
from query_processing_over_streaming_data_using_flink_spark.streaming.curation import (
    IncrementalEvalMinhash,
    IncrementalExactDedupIndex,
    run_streaming_curation,
)


def _docs_df(spark, rows):
    """Minimal documents frame: (doc_id, source, lang, text)."""
    return spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string"
    )


def test_stream_manifest_equals_batch_pipeline(spark, tmp_path):
    """Drain the sf0.001 corpus through the composed face (multiple
    micro-batches), then manifest() == the registered
    curation_pipeline_full output exactly — every gate decision, the
    mixture draw, the split, and both fingerprints."""
    docs = load_table(spark, SF_SMOKE, "documents")
    src = str(tmp_path / "docs_src")
    docs.repartition(4).write.parquet(src)

    pipe = run_streaming_curation(
        spark, src, str(tmp_path / "state"), files_per_trigger=2
    )
    # fold the state logs first: the gate must read identically from
    # COMPACTED state (one row per live group) as from the epoch log
    for face in (pipe.kn, pipe.dedup, pipe.eval_mh):
        face.agg.state.compact()
    got = sorted(tuple(r) for r in pipe.manifest(docs).collect())
    pipe.release_gate_cache()
    want = sorted(
        tuple(r) for r in curation_pipeline_full(spark, SF_SMOKE).collect()
    )
    assert got == want
    assert len(got) > 0, "fixture should produce a non-empty manifest"


def test_streamed_eval_minhash_flag_equals_batch(spark, tmp_path):
    """Eval signatures folded across arbitrary micro-batches, then
    flag() over the training side == the registered batch
    decontaminate_eval_minhash query exactly; compaction preserves the
    verdicts."""
    docs = load_table(spark, SF_SMOKE, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 7 == 0)
    train_docs = docs.filter(F.col("doc_id") % 7 != 0)

    emh = IncrementalEvalMinhash(spark, str(tmp_path / "emh"))
    for e in range(3):
        emh.process_batch(eval_docs.filter(F.col("doc_id") % 3 == e), e + 1)

    def rows(df):
        return sorted(
            (r["doc_id"], r["n_eval_matches"], round(r["max_jaccard"], 6))
            for r in df.collect()
        )

    got = rows(emh.flag(train_docs))
    want = rows(decontaminate_eval_minhash(spark, SF_SMOKE))
    assert got == want
    assert got, "fixture should contain planted near-dup contamination"
    emh.agg.state.compact()
    assert rows(emh.flag(train_docs)) == want


def test_cross_side_core_matches_lsh_pair_semantics(spark):
    """The shared cross-side verify core must agree with the
    registered pair-finder's semantics on a planted corpus: splitting
    the docs into two sides and running `cross_side_minhash_pairs`
    yields exactly the cross-side subset of `minhash_lsh_pairs` over
    the union, with identical jaccard values."""
    from query_processing_over_streaming_data_using_flink_spark.operators import dedup as dd

    docs = load_table(spark, SF_SMOKE, "documents").limit(120)
    left = docs.filter(F.col("doc_id") % 2 == 0)
    right = docs.filter(F.col("doc_id") % 2 == 1)

    got = {
        (r["doc_id"], r["other_id"]): r["jaccard"]
        for r in dd.cross_side_minhash_pairs(
            dd.minhash_signatures(left), dd.minhash_signatures(right), 0.2
        ).collect()
    }
    want = {}
    for r in dd.minhash_lsh_pairs(docs, threshold=0.2).collect():
        a, b = r["doc_a"], r["doc_b"]
        if a % 2 != b % 2:  # cross-side only
            la, rb = (a, b) if a % 2 == 0 else (b, a)
            want[(la, rb)] = r["jaccard"]
    assert got == want


def test_eval_minhash_retraction_unflags(spark, tmp_path):
    """A withdrawn benchmark stops contaminating: insert an eval doc
    that is a verbatim copy of a training doc (flagged, jaccard 1.0),
    then retract it (op = −1) — the training doc comes back clean."""
    text = "the quick brown fox jumps over the lazy dog again and again"
    train = _docs_df(spark, [(1, "src1", "en", text)])
    eval_in = _docs_df(spark, [(7, "src2", "en", text)])

    emh = IncrementalEvalMinhash(spark, str(tmp_path / "emh"))
    emh.process_batch(eval_in, 1)
    flagged = emh.flag(train).collect()
    assert [(r["doc_id"], r["max_jaccard"]) for r in flagged] == [(1, 1.0)]

    emh.process_batch(eval_in.withColumn("op", F.lit(-1)), 2)
    assert emh.flag(train).count() == 0
    assert emh.live().count() == 0


def test_composed_redelivery_skipped_in_lockstep(spark, tmp_path):
    """Exactly-once across the composed face: a redelivered epoch is
    skipped by ALL THREE state tables (KN counts, fp index, eval
    signatures) — including after a process restart that re-attaches
    to the same state dirs — so no gate input is ever double-counted."""
    from query_processing_over_streaming_data_using_flink_spark.plans.suite_quality import PPL_TRAIN_SOURCE
    from query_processing_over_streaming_data_using_flink_spark.streaming.curation import (
        StreamingCurationPipeline,
    )

    batch = _docs_df(
        spark,
        [
            (1, PPL_TRAIN_SOURCE, "en", "the quick brown fox jumps over the dog"),
            (2, "src1", "en", "an entirely different training document body"),
            (7, "src2", "en", "an eval benchmark item with enough words here"),
        ],
    )
    root = str(tmp_path / "state")
    pipe = StreamingCurationPipeline(spark, root)
    pipe.process_batch(batch, 1)

    def snapshot(p):
        return (
            sorted(tuple(r) for r in p.kn.agg.result().collect()),
            sorted(tuple(r) for r in p.dedup.agg.result().collect()),
            sorted(tuple(r) for r in p.eval_mh.live().collect()),
        )

    before = snapshot(pipe)
    pipe.process_batch(batch, 1)  # same-process redelivery
    assert snapshot(pipe) == before

    pipe2 = StreamingCurationPipeline(spark, root)  # restart, same dirs
    pipe2.process_batch(batch, 1)  # redelivery after restart
    assert snapshot(pipe2) == before
    pipe2.process_batch(batch.filter(F.col("doc_id") == 2), 2)  # new epoch folds
    assert snapshot(pipe2) != before


def test_eval_minhash_same_batch_version_update(spark, tmp_path):
    """A benchmark VERSION UPDATE delivered inside one micro-batch —
    retract(old text) + insert(new text) for the same eval doc — must
    land the new version (per-version signing; signing per doc_id
    would merge both texts' shingles and cancel the ops to a no-op)."""
    old = "the quick brown fox jumps over the lazy dog again and again"
    new = "a completely rewritten benchmark item with novel phrasing here"
    emh = IncrementalEvalMinhash(spark, str(tmp_path / "emh"))
    emh.process_batch(_docs_df(spark, [(7, "src2", "en", old)]), 1)

    both = _docs_df(spark, [(7, "src2", "en", old)]).withColumn(
        "op", F.lit(-1)
    ).unionByName(
        _docs_df(spark, [(7, "src2", "en", new)]).withColumn("op", F.lit(1))
    )
    emh.process_batch(both, 2)

    train_old = _docs_df(spark, [(1, "src1", "en", old)])
    train_new = _docs_df(spark, [(2, "src1", "en", new)])
    assert emh.flag(train_old).count() == 0, "withdrawn version still gating"
    got = [(r["doc_id"], r["max_jaccard"]) for r in emh.flag(train_new).collect()]
    assert got == [(2, 1.0)], "updated version not registered"
    assert emh.live().count() == 1
    emh.release_cache()


def test_exact_index_canonical_promotion(spark, tmp_path):
    """Retracting the canonical member PROMOTES the next-smallest live
    doc — the read-time min over net membership rows, which a
    first-wins ownership scheme cannot express."""
    text = "identical content shared by the duplicate pair"
    other = "a different document entirely with its own words"
    idx = IncrementalExactDedupIndex(spark, str(tmp_path / "fp"))
    idx.process_batch(
        _docs_df(
            spark,
            [(10, "s", "en", text), (11, "s", "en", text), (12, "s", "en", other)],
        ),
        1,
    )
    canon = {r["canonical_id"]: r["group_size"] for r in idx.canonicals().collect()}
    assert canon == {10: 2, 12: 1}

    # retract the canonical → 11 takes over its group
    idx.process_batch(
        _docs_df(spark, [(10, "s", "en", text)]).withColumn("op", F.lit(-1)), 2
    )
    canon = {r["canonical_id"]: r["group_size"] for r in idx.canonicals().collect()}
    assert canon == {11: 1, 12: 1}

    # retract the survivor → the group is gone entirely
    idx.process_batch(
        _docs_df(spark, [(11, "s", "en", text)]).withColumn("op", F.lit(-1)), 3
    )
    canon = {r["canonical_id"]: r["group_size"] for r in idx.canonicals().collect()}
    assert canon == {12: 1}

    # flags over a frame: only live docs' rows resolve
    flags = idx.canonical_flags(
        _docs_df(spark, [(12, "s", "en", other)])
    ).collect()
    assert [(r["doc_id"], r["is_canonical"]) for r in flags] == [(12, True)]


def test_flag_repeat_calls_bound_cached_blocks(spark, tmp_path):
    """A long-lived session polling flag() without the release
    discipline must hold at most ONE call's persisted frames: each
    flag() releases the previous call's ledger on entry (round-12
    ADVICE fix), so the ledger never grows past 2 entries."""
    text = "the quick brown fox jumps over the lazy dog again and again"
    train = _docs_df(spark, [(1, "src1", "en", text)])
    emh = IncrementalEvalMinhash(spark, str(tmp_path / "emh"))
    emh.process_batch(_docs_df(spark, [(7, "src2", "en", text)]), 1)

    for _ in range(3):
        got = [(r["doc_id"], r["max_jaccard"]) for r in emh.flag(train).collect()]
        assert got == [(1, 1.0)]
        assert len(emh._cached) == 2, "repeat flag() must not grow the ledger"
    emh.release_cache()
    assert emh._cached == []


def test_run_binding_never_engaging_raises(spark, tmp_path, monkeypatch):
    """If the checkpoint's metadata file is unreadable on every
    micro-batch AND after the drain, run_streaming_curation must raise
    instead of silently returning a pipeline whose replay-skip defense
    never engaged (round-12 ADVICE fix). Simulated by denying Python
    reads of this checkpoint's metadata file only — the JVM-side
    stream still writes and reads its checkpoint normally."""
    import builtins

    import pytest

    docs = load_table(spark, SF_SMOKE, "documents").limit(20)
    src = str(tmp_path / "src")
    docs.repartition(1).write.parquet(src)

    ckpt = str(tmp_path / "ckpt_denied")
    real_open = builtins.open

    def deny_metadata(path, *a, **k):
        p = str(path)
        if p.startswith(ckpt) and p.endswith("metadata"):
            raise FileNotFoundError(p)
        return real_open(path, *a, **k)

    monkeypatch.setattr(builtins, "open", deny_metadata)
    with pytest.raises(RuntimeError, match="run-id binding never engaged"):
        run_streaming_curation(
            spark, src, str(tmp_path / "state"),
            files_per_trigger=1, checkpoint_dir=ckpt,
        )


def test_run_binding_engages_post_drain_when_missed_mid_stream(
    spark, tmp_path, monkeypatch
):
    """If the metadata read misses during the drain but succeeds after
    (e.g. the file appears late), the post-drain bind must attach the
    checkpoint's real run id to all three state tables (in-memory: the
    drained run commits nothing further, so the id reaches the pointer
    on the NEXT commit — what matters is that subsequent batches in
    this session are stamped)."""
    import builtins

    docs = load_table(spark, SF_SMOKE, "documents").limit(20)
    src = str(tmp_path / "src")
    docs.repartition(1).write.parquet(src)

    ckpt = str(tmp_path / "ckpt_late")
    state = str(tmp_path / "state")
    real_open = builtins.open
    # Deny exactly the FIRST metadata read attempt (the mid-stream
    # bind), so the post-drain (or later-batch) bind is what engages.
    calls = {"n": 0}

    def deny_first_only(path, *a, **k):
        p = str(path)
        if p.startswith(ckpt) and p.endswith("metadata"):
            calls["n"] += 1
            if calls["n"] == 1:
                raise FileNotFoundError(p)
        return real_open(path, *a, **k)

    monkeypatch.setattr(builtins, "open", deny_first_only)
    pipe = run_streaming_curation(
        spark, src, state, files_per_trigger=1, checkpoint_dir=ckpt
    )
    assert calls["n"] >= 2, "post-drain (or later-batch) bind never attempted"
    import json

    with real_open(os.path.join(ckpt, "metadata")) as fh:
        real_id = json.load(fh)["id"]
    for table in (pipe.kn.agg.state, pipe.dedup.agg.state, pipe.eval_mh.agg.state):
        assert table._run_id == real_id, "post-drain bind did not engage"


def test_streamed_dedup_telemetry_equals_batch(spark, tmp_path):
    """Corpus signatures folded across arbitrary micro-batches, then
    report() == the registered batch dedup_rate_by_source query
    exactly — per-source doc counts, dup-cluster membership, canonical
    attribution, ratios; compaction preserves the report. No document
    text is re-read at report time (signatures come from state)."""
    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
        dedup_rate_by_source,
    )
    from query_processing_over_streaming_data_using_flink_spark.streaming.curation import (
        IncrementalDedupTelemetry,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    tel = IncrementalDedupTelemetry(spark, str(tmp_path / "tel"))
    for e in range(3):
        tel.process_batch(docs.filter(F.col("doc_id") % 3 == e), e + 1)

    def rows(df):
        return sorted(
            (
                r["source"],
                r["n_docs"],
                r["n_in_dup_clusters"],
                round(r["dup_doc_ratio"], 6),
                r["n_canonicals"],
                r["n_would_drop"],
            )
            for r in df.collect()
        )

    want = rows(dedup_rate_by_source(spark, SF_SMOKE))
    got = rows(tel.report())
    tel.release_cache()
    assert got == want
    assert any(r[2] > 0 for r in want), "fixture should contain dup clusters"
    tel.agg.state.compact()
    got2 = rows(tel.report())
    tel.release_cache()
    assert got2 == want


def test_dedup_telemetry_retraction_moves_ratio(spark, tmp_path):
    """A retracted re-crawl drops out of its cluster: two near-dup
    docs in one source read as a dup cluster (ratio 1.0); retracting
    one leaves a singleton corpus (ratio 0.0) — the crawl-health
    number moves the way the dashboard expects."""
    from query_processing_over_streaming_data_using_flink_spark.streaming.curation import (
        IncrementalDedupTelemetry,
    )

    text = "the quick brown fox jumps over the lazy dog near the river bank today"
    tel = IncrementalDedupTelemetry(spark, str(tmp_path / "tel"))
    ins = spark.createDataFrame(
        [(1, text, "srcA"), (2, text + " extra", "srcA")],
        "doc_id long, text string, source string",
    )
    tel.process_batch(ins, 1)
    r1 = {r["source"]: r for r in tel.report().collect()}
    tel.release_cache()
    assert r1["srcA"]["n_docs"] == 2
    assert r1["srcA"]["n_in_dup_clusters"] == 2
    assert r1["srcA"]["n_canonicals"] == 1  # min-id doc 1 is canonical
    assert r1["srcA"]["n_would_drop"] == 1

    retract = spark.createDataFrame(
        [(2, text + " extra", "srcA", -1)],
        "doc_id long, text string, source string, op int",
    )
    tel.process_batch(retract, 2)
    r2 = {r["source"]: r for r in tel.report().collect()}
    tel.release_cache()
    assert r2["srcA"]["n_docs"] == 1
    assert r2["srcA"]["n_in_dup_clusters"] == 0
    assert r2["srcA"]["n_canonicals"] == 1
    assert r2["srcA"]["n_would_drop"] == 0


def test_dedup_telemetry_counts_unshingleable_docs(spark, tmp_path):
    """A doc too short to shingle still counts in the telemetry (the
    batch query counts every document row): it lands as a singleton
    with an empty signature and can never produce a candidate pair."""
    from query_processing_over_streaming_data_using_flink_spark.streaming.curation import (
        IncrementalDedupTelemetry,
    )

    tel = IncrementalDedupTelemetry(spark, str(tmp_path / "tel"))
    tel.process_batch(
        spark.createDataFrame(
            [(1, "hi", "srcA"), (2, "ok", "srcA")],
            "doc_id long, text string, source string",
        ),
        1,
    )
    r = {x["source"]: x for x in tel.report().collect()}
    tel.release_cache()
    assert r["srcA"]["n_docs"] == 2
    assert r["srcA"]["n_in_dup_clusters"] == 0
    assert r["srcA"]["n_canonicals"] == 2
