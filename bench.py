"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Comparison anchor (BASELINE.md): the reference consumes the SF-1
changelog (15.3M events) in ~71s ≈ 215K events/s. The
`changelog_stream_q3` entry here is the same workload — generate the
full insert+delete cycle and evaluate Q3 over the stream's state — so
`extra.events_per_sec` is directly comparable across scale factors.

Each query executes to completion through a noop sink (full plan runs,
no driver collect cost). Timings are wall-clock per query, cold data
cache; whole-stage-codegen compilation is warmed first by running each
plan shape once at a smaller scale (sf0.01), mirroring the reference
baseline, whose timer starts after the Flink job graph is compiled and
submitted (`TPCHQuery3_StreamProcessor.java` timer placement).
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from query_processing_over_streaming_data_using_flink_spark.session import get_spark


def _run(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("bench")

    from query_processing_over_streaming_data_using_flink_spark.plans.tpch import (
        q3_shipping_priority,
    )
    from query_processing_over_streaming_data_using_flink_spark.plans import (
        suite_llm_data as llm,
        suite_relational as rel,
    )
    from query_processing_over_streaming_data_using_flink_spark.sources.catalog import load_table
    from query_processing_over_streaming_data_using_flink_spark.streaming.changelog import (
        build_changelog,
    )
    from query_processing_over_streaming_data_using_flink_spark.streaming.retraction import (
        q3_on_state,
    )

    timings: dict[str, float] = {}
    extra: dict[str, float] = {}

    # Warm the session: file listing at the bench scale, then one run of
    # each headline plan shape at the smoke scale so the timed runs
    # measure the queries, not JIT/codegen compilation. Warmup cost is
    # reported separately.
    t0 = time.time()
    for t in ("customer", "orders", "lineitem", "documents", "embeddings", "events"):
        load_table(spark, sf_dir, t).count()
    smoke = "/root/testdata/sf0.01"
    if os.path.isdir(smoke) and smoke != sf_dir:
        for warm_fn in (
            q3_shipping_priority,
            rel.agg_lineitem_pricing_summary,
            rel.join_orders_lineitem_revenue,
            llm.dedup_minhash_lsh,
            llm.ann_bruteforce,
            llm.text_stats,
        ):
            try:
                _run(warm_fn(spark, smoke))
            except Exception:
                pass  # warmup is best-effort; the timed run decides
    extra["warmup_sec"] = round(time.time() - t0, 3)

    # Suite queries run twice and report the min (single runs drifted
    # ±10% round-over-round, polluting regression detection); both runs
    # are recorded in extra.query_runs. Cached blocks are cleared
    # before EVERY timed run: several operators persist intermediates
    # (minhash signatures, PQ codebooks) that a later invocation never
    # reuses — letting them accumulate made the documented "cold data
    # cache" claim false and run 2 of dedup_minhash_lsh measurably
    # slower than run 1 in round 6 (2.15 s → 3.88 s under the leaked
    # blocks' GC pressure). With the clear, both runs execute the
    # identical cold plan.
    # Each timed pair is preceded by ONE untimed priming run of the
    # exact thunk (recorded in extra.prime_runs): the first execution
    # of a plan at a new scale pays JIT/scheduler/file-listing warm-in
    # (~0.5 s flat) that the sf0.01 shape-warmup cannot absorb, which
    # kept the two recorded runs ~30% apart. With priming + the cache
    # clear, both timed runs execute the identical cold-data
    # steady-state plan — the reference baseline times the same way
    # (its timer starts after the Flink job graph is compiled).
    query_runs: dict[str, list[float]] = {}
    prime_runs: dict[str, float] = {}
    extra["query_runs"] = query_runs
    extra["prime_runs"] = prime_runs

    def bench(name: str, thunk) -> None:
        spark.catalog.clearCache()
        t0 = time.time()
        thunk()
        prime_runs[name] = round(time.time() - t0, 3)
        runs = []
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.time()
            thunk()
            runs.append(round(time.time() - t0, 3))
        query_runs[name] = runs
        timings[name] = min(runs)

    # Flagship batch Q3 (the reference's canonical query).
    bench("q3_shipping_priority", lambda: _run(q3_shipping_priority(spark, sf_dir)))

    # Aggregation-heavy scan (TPC-H Q1 shape).
    bench(
        "agg_lineitem_pricing_summary",
        lambda: _run(rel.agg_lineitem_pricing_summary(spark, sf_dir)),
    )

    # Big fact-fact join with per-row expression.
    bench(
        "join_orders_lineitem_revenue",
        lambda: _run(rel.join_orders_lineitem_revenue(spark, sf_dir)),
    )

    # Streaming-equivalent workload: full insert+delete changelog cycle
    # evaluated with signed-weight retraction (BASELINE comparison).
    n_total = sum(
        load_table(spark, sf_dir, t).count() for t in ("customer", "orders", "lineitem")
    )
    n_events = 2 * n_total

    def changelog_workload() -> None:
        # pin=False: q3_on_state never reads seq, so Catalyst prunes
        # the rank machinery from the lazy generator — the plan this
        # row has always timed. A pinned build would eagerly
        # materialize the ranks the query doesn't use (measured ~2x).
        log = build_changelog(spark, sf_dir, window=(n_total * 2) // 3, pin=False)
        _run(q3_on_state(log))

    bench("changelog_stream_q3", changelog_workload)
    extra["changelog_events"] = n_events
    extra["events_per_sec"] = round(n_events / timings["changelog_stream_q3"], 1)

    # LLM-data pipeline headliners.
    bench("dedup_minhash_lsh", lambda: _run(llm.dedup_minhash_lsh(spark, sf_dir)))
    bench("ann_bruteforce", lambda: _run(llm.ann_bruteforce(spark, sf_dir)))
    bench("text_stats", lambda: _run(llm.text_stats(spark, sf_dir)))
    bench(
        "embedding_covariance",
        lambda: _run(llm.embedding_covariance(spark, sf_dir)),
    )

    # Extras methodology (changed r10): min-of-2 per extra, both runs
    # recorded in extra["extras_runs"]. Rationale: the IVF-family extras
    # run k-means-style many-small-jobs plans whose wall clock jitters
    # 2-3x run-to-run from scheduler/GC noise (measured: ann_ivf
    # [8.9, 3.4, 6.2] in one session) — single runs made round-over-
    # round comparisons read as drift. Min-of-2 is the same rule the
    # headline queries and the SF-1 IVM already use.
    extras_runs: dict[str, list[float]] = {}

    def _timed_extra(group: dict, vname: str, thunk) -> None:
        # min-of-2, plus a TIE-BREAKER third run when the two runs
        # disagree by >1.5x (r14 verdict ask #6): rows at the tail of
        # this long-lived JVM jitter enough that min-of-2 alone kept
        # manufacturing phantom round-over-round regressions in
        # untouched code (r14: 11 extras rows read >1.1x vs r13 with
        # zero diff in their paths, worst 2.37x). A disagreeing pair
        # means at least one run was noise; the third run resolves
        # which. All runs recorded in extra.extras_runs as before.
        rs = []
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.time()
            thunk()
            rs.append(round(time.time() - t0, 3))
        if max(rs) > 1.5 * min(rs):
            spark.catalog.clearCache()
            t0 = time.time()
            thunk()
            rs.append(round(time.time() - t0, 3))
        group[vname] = min(rs)
        extras_runs[vname] = rs

    # Informational (not regression-gated): the ANN spectrum at this SF
    # — exact baseline vs the pruned indexes. Wall-clock at test scale
    # is training-dominated (tiny corpus); the scan-volume story these
    # stand for is in SCALING.md and the recall certifications.
    ann_variants: dict[str, float] = {}
    for vname, vfn in (
        ("ann_lsh", llm.ann_lsh),
        ("ann_ivf", llm.ann_ivf),
        ("ann_pq", llm.ann_pq),
        ("ann_ivfpq", llm.ann_ivfpq),
        ("ann_ivfpq_rerank", llm.ann_ivfpq_rerank),
    ):
        _timed_extra(ann_variants, vname, lambda vfn=vfn: _run(vfn(spark, sf_dir)))
    extra["ann_variants"] = ann_variants
    # Cross-round comparability: before r10 the variants ran ONCE, in
    # sequence, without a cache clear — a later variant could inherit a
    # cached codebook/centroid block from an earlier one, so pre-r10
    # numbers for ann_ivfpq(+rerank) read ~2x faster than an honest
    # cold run. The per-run clearCache makes every run train cold.
    extra["ann_variants_note"] = (
        "min-of-2, cold per run (cache cleared): pre-r10 single-run "
        "numbers could inherit cached training blocks from the "
        "preceding variant"
    )

    # Round-7 LLM-pipeline additions at suite scale: span-level dedup incl. the md5-verified
    # rewrite, and true-BPE counting (mapInPandas over Arrow batches).
    r7: dict[str, float] = {}
    for vname, vfn in (
        ("dedup_exact_substring", llm.dedup_exact_substring),
        ("dedup_substring_rewrite", llm.dedup_substring_rewrite),
        ("text_bpe_token_count", llm.text_bpe_token_count),
        # bpe_train_merges re-trains COLD on both timed runs (the memo
        # is dropped first — min-of-2 of a warm memo would time a
        # no-op); text_token_count_trained then reuses the warm table,
        # measuring tokenize-with-learned-table as before.
        ("bpe_train_merges", llm.bpe_train_merges),
        ("text_token_count_trained", llm.text_token_count_trained),
    ):

        def _thunk(vfn=vfn, vname=vname) -> None:
            if vname == "bpe_train_merges":
                llm._TRAINED_MERGES.pop(sf_dir, None)
            _run(vfn(spark, sf_dir))

        _timed_extra(r7, vname, _thunk)
    extra["llm_extras"] = r7

    # Round-8 additions: the model-based quality gates
    # (bigram-LM perplexity incl. training, Naive Bayes train+apply,
    # Gopher rules), table maintenance (MERGE + diff), the Bloom
    # membership sketch, and SQ8 ANN.
    from query_processing_over_streaming_data_using_flink_spark.plans import suite_quality as qual
    from query_processing_over_streaming_data_using_flink_spark.plans import suite_relational as rel
    from query_processing_over_streaming_data_using_flink_spark.plans import suite_sketch as sk

    r8: dict[str, float] = {}
    for vname, vfn in (
        ("text_perplexity_filter", qual.text_perplexity_filter),
        ("classify_naive_bayes_lang", qual.classify_naive_bayes_lang),
        ("text_gopher_rules", qual.text_gopher_rules),
        ("merge_upsert_customer", rel.merge_upsert_customer),
        ("snapshot_diff_customer", rel.snapshot_diff_customer),
        ("er_fuzzy_part_names", rel.er_fuzzy_part_names),
        ("bloom_membership_audit", sk.bloom_membership_audit),
        ("ann_sq8", llm.ann_sq8),
        ("mine_hard_negatives", qual.mine_hard_negatives),
        ("sample_uncertain_margin", qual.sample_uncertain_margin),
        ("curation_pipeline_model_gated", qual.curation_pipeline_model_gated),
        ("dedup_semantic_ivf", llm.dedup_semantic_ivf),
        ("embedding_outliers", llm.embedding_outliers),
        ("source_overlap_matrix", llm.source_overlap_matrix),
    ):
        _timed_extra(r8, vname, lambda vfn=vfn: _run(vfn(spark, sf_dir)))
    extra["quality_extras"] = r8

    # Round-9/10 additions: the interpolated Kneser-Ney
    # trigram gate (CCNet model class) + its head/middle/tail bucket
    # partitioning, and SemDeDup-style cluster-balanced sampling.
    r9: dict[str, float] = {}
    for vname, vfn in (
        ("text_perplexity_filter_kn", qual.text_perplexity_filter_kn),
        ("text_perplexity_buckets_kn", qual.text_perplexity_buckets_kn),
        ("sample_cluster_balanced", llm.sample_cluster_balanced),
    ):
        _timed_extra(r9, vname, lambda vfn=vfn: _run(vfn(spark, sf_dir)))
    extra["lm_extras"] = r9

    # Round-10/11 additions: the deterministic shard-export manifest,
    # the per-language tokenizer-fertility audit (true-BPE, one pass),
    # the KN-model-driven source mixture, and the DSIR importance-
    # sampling pair (hashed-n-gram LLR weights + Gumbel top-k resample).
    r10: dict[str, float] = {}
    for vname, vfn in (
        ("export_shard_manifest", llm.export_shard_manifest),
        ("tokenizer_fertility_report", llm.tokenizer_fertility_report),
        ("mixture_ppl_tilted", qual.mixture_ppl_tilted),
        ("dsir_importance_weights", qual.dsir_importance_weights),
        ("sample_dsir_resample", qual.sample_dsir_resample),
    ):
        _timed_extra(r10, vname, lambda vfn=vfn: _run(vfn(spark, sf_dir)))
    extra["export_extras"] = r10

    # Round-11 additions: the composed full-lineage pipeline (its wall
    # clock is dominated by the leakage-safe split's exact clusterer —
    # ~21 of ~33 s at sf0.1), the 13-gram decontamination pair, the
    # Moore-Lewis selector, classifier calibration, UniMax epochs, and
    # the curriculum manifest.
    r11: dict[str, float] = {}
    for vname, vfn in (
        ("curation_pipeline_full", qual.curation_pipeline_full),
        ("decontaminate_eval_ngram13", llm.decontaminate_eval_ngram13),
        ("eval_burn_report", llm.eval_burn_report),
        ("sample_moore_lewis", qual.sample_moore_lewis),
        ("classifier_calibration_bins", qual.classifier_calibration_bins),
        ("mixture_unimax_epochs", llm.mixture_unimax_epochs),
        ("export_curriculum_manifest", qual.export_curriculum_manifest),
    ):
        _timed_extra(r11, vname, lambda vfn=vfn: _run(vfn(spark, sf_dir)))
    extra["pipeline_extras"] = r11

    # Round-12/13 additions: span-level eval decontamination (the
    # expensive one — train×eval substring shingles), the LSH-backed
    # near-dup clustering, unigram entropy, per-source tokenizer
    # compression, the planted cosine-pair certification, and the
    # quality-aware canonical selection (LSH candidate pairs since r13).
    r12: dict[str, float] = {}
    for vname, vfn in (
        ("decontaminate_eval_substring", llm.decontaminate_eval_substring),
        ("dedup_clusters_minhash", llm.dedup_clusters_minhash),
        ("text_unigram_entropy", qual.text_unigram_entropy),
        ("tokenizer_compression_by_source", llm.tokenizer_compression_by_source),
        ("dedup_embedding_cosine_planted", llm.dedup_embedding_cosine_planted),
        ("dedup_keep_best_quality", llm.dedup_keep_best_quality),
    ):
        _timed_extra(r12, vname, lambda vfn=vfn: _run(vfn(spark, sf_dir)))
    extra["curation_extras"] = r12

    # SF-1 parity datapoint: BASELINE.md measures the reference at SF-1
    # (15.3M events, ~71s best). No sf1 testdata directory exists, so
    # replicate the sf0.1 changelog tables 10× with disjoint key ranges
    # — same join fan-out, same ratios — and run the identical workload
    # at the baseline's own scale. Gated by SPARK_GRAFT_SF1=0.
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0" and abs(sf - 0.1) < 1e-9:
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        tmp = tempfile.mkdtemp(prefix="graft_sf1_")
        try:
            scale, off = 10, 1 << 40
            rep = F.explode(F.array(*[F.lit(i) for i in range(scale)])).alias("_rep")

            def replicate(name: str, key_cols: list[str]) -> None:
                df = load_table(spark, sf_dir, name).select("*", rep)
                for k in key_cols:
                    df = df.withColumn(k, F.col(k) + F.col("_rep").cast("long") * off)
                df.drop("_rep").write.parquet(os.path.join(tmp, f"{name}.parquet"))

            t0 = time.time()
            replicate("customer", ["c_custkey"])
            replicate("orders", ["o_orderkey", "o_custkey"])
            replicate("lineitem", ["l_orderkey"])
            gen_sec = round(time.time() - t0, 3)

            n1 = sum(
                load_table(spark, tmp, t).count()
                for t in ("customer", "orders", "lineitem")
            )
            # Flagship batch query AT SF-1 (6M lineitems): the direct
            # scale datapoint for the Q3 plan itself.
            t0 = time.time()
            _run(q3_shipping_priority(spark, tmp))
            q3_sf1 = round(time.time() - t0, 3)
            # The baseline's 71s consumes a PRE-GENERATED streamdata.csv
            # (generation is an offline StreamDataProcessor.py step in
            # the reference). Mirror that: stage the changelog to disk
            # (timed separately), then time the consume+maintain phase —
            # the reference-comparable number.
            staged = os.path.join(tmp, "changelog")
            t0 = time.time()
            build_changelog(spark, tmp, window=(n1 * 2) // 3, pin=False).write.parquet(staged)
            stage_sec = round(time.time() - t0, 3)
            t0 = time.time()
            _run(q3_on_state(spark.read.parquet(staged)))
            consume = round(time.time() - t0, 3)
            # The one-shot consume evaluates the final state in one
            # batch plan. The reference maintains state incrementally,
            # so ALSO time the apples-to-apples path: the micro-batched
            # IVM pipeline (foreachBatch delta joins + bucketed state
            # merges) over the same staged changelog, ~4 epochs.
            from query_processing_over_streaming_data_using_flink_spark.streaming.ivm import (
                run_streaming_q3,
            )

            nfiles = len([f for f in os.listdir(staged) if f.endswith(".parquet")])
            # Three runs, report the min: the staging step just wrote
            # ~1.5 GB, and on slow disks its dirty-page writeback can
            # stall the first timed run by 2-4x (measured). sync() first
            # so the flush isn't billed to the IVM; the min of the
            # fresh-state runs is the steady-state number, all runs
            # recorded. (Round 12: min-of-2 measured [35.9, 32.8] on a
            # day whose true floor was 20.4 — a standalone min-of-3 hit
            # it on run 3; the third run costs ~30 s and removes that
            # failure mode.)
            ivm_runs = []
            for attempt in range(3):
                state_dir = os.path.join(tmp, f"state{attempt}")
                try:
                    os.sync()
                except AttributeError:
                    pass
                t0 = time.time()
                run_streaming_q3(
                    spark,
                    staged,
                    state_dir,
                    files_per_trigger=max(1, nfiles // 4),
                    # local[32] with 128 GiB has the headroom for large
                    # broadcasts; the cluster-conservative class default
                    # (256 MB est. in-memory) would shuffle the bulk
                    # epochs here. 1 GiB est. in-memory ≈ 256 MB on-disk
                    # — the measured-good local value (OPERATIONS.md).
                    broadcast_threshold_bytes=1 << 30,
                )
                ivm_runs.append(round(time.time() - t0, 3))
            ivm_sec = min(ivm_runs)
            # Windowed-churn soak: the reference's default window equals
            # the whole dataset, so deletes only drain at the end and
            # the IVM bench above never exercises churn — the log-
            # structured commit's worst case. Re-run with window ≈ 1M
            # events (deletes interleave from ~7% in) under scheduled
            # compaction, recording state size and read amplification
            # (parquet files per state table vs its bucket count) after
            # each epoch.
            import json as _json

            from query_processing_over_streaming_data_using_flink_spark.streaming.state_table import (
                dir_bytes as _dir_bytes,
            )

            churn_staged = os.path.join(tmp, "churn_changelog")
            t0 = time.time()
            # Truncate mid-drain (K = 1.5N) so the final state is
            # non-trivial and the stream==batch check is meaningful.
            build_changelog(spark, tmp, window=10**6, pin=False).filter(
                F.col("seq") <= n1 + n1 // 2
            ).write.parquet(churn_staged)
            churn_stage_sec = round(time.time() - t0, 3)
            churn_state = os.path.join(tmp, "churn_state")
            telemetry: list[dict] = []

            def _state_probe(state_dir: str) -> dict:
                try:
                    with open(os.path.join(state_dir, "CURRENT")) as fh:
                        ver = _json.load(fh)["version"]
                except FileNotFoundError:
                    return {"bytes": 0, "files": 0}
                vdir = os.path.join(state_dir, ver)
                n_files = sum(
                    len([f for f in files if f.endswith(".parquet")])
                    for _r, _d, files in os.walk(vdir)
                )
                return {"bytes": _dir_bytes(vdir), "files": n_files}

            def _on_progress(epoch_id: int, _top, _stats) -> None:
                p = _state_probe(churn_state)
                telemetry.append(
                    {"epoch": epoch_id, "state_bytes": p["bytes"], "state_files": p["files"]}
                )

            nf_churn = len(
                [f for f in os.listdir(churn_staged) if f.endswith(".parquet")]
            )
            t0 = time.time()
            churn_top = run_streaming_q3(
                spark,
                churn_staged,
                churn_state,
                # ~5 epochs: enough micro-batches that inserts and
                # deletes genuinely interleave under compaction, few
                # enough that per-epoch fixed costs (spill jobs,
                # commits) don't swamp the churn signal.
                files_per_trigger=max(1, nf_churn // 5),
                compact_every=2,
                on_progress=_on_progress,
                broadcast_threshold_bytes=1 << 30,
            )
            churn_sec = round(time.time() - t0, 3)
            churn_batch = q3_on_state(spark.read.parquet(churn_staged))
            matches = sorted(map(tuple, churn_top.collect())) == sorted(
                map(tuple, churn_batch.collect())
            )
            extra["sf1_churn"] = {
                "note": "different workload from baseline_sec: window=1M "
                "(deletes interleave from ~7% in) vs the reference default "
                "window=whole-dataset; reported for state-churn telemetry, "
                "not headline comparison",
                "window": 10**6,
                "ivm_consume_sec": churn_sec,
                "changelog_gen_sec": churn_stage_sec,
                "epochs": telemetry,
                "peak_state_bytes": max((t["state_bytes"] for t in telemetry), default=0),
                "final_state_bytes": telemetry[-1]["state_bytes"] if telemetry else 0,
                "matches_batch": matches,
            }

            extra["sf1"] = {
                "sf": 1,
                "q3_batch_sec": q3_sf1,
                "consume_q3_sec": consume,
                "events": 2 * n1,
                "events_per_sec": round(2 * n1 / consume, 1),
                "ivm_consume_sec": ivm_sec,
                "ivm_runs_sec": ivm_runs,
                "ivm_events_per_sec": round(2 * n1 / ivm_sec, 1),
                "changelog_gen_sec": stage_sec,
                "table_gen_sec": gen_sec,
                "baseline_sec": 71.0,
                "vs_baseline_consume": round(consume / 71.0, 3),
                "vs_baseline_ivm": round(ivm_sec / 71.0, 3),
                "vs_baseline_incl_generation": round((consume + stage_sec) / 71.0, 3),
            }
        except Exception as e:  # the parity point must never sink the bench
            extra["sf1_error"] = f"{type(e).__name__}: {e}"[:300]
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    # SF-1 soak for the LLM-data ops (round-10): replicate documents and
    # embeddings 10× with disjoint ids; replicas 1-9 get a per-replica
    # word suffix (" word" → " word_rN") — a bijective vocabulary map, so
    # every within-replica dedup/ngram/quality/LM statistic is preserved
    # exactly while replicas stay shingle-disjoint. That keeps dedup
    # candidate generation scaling linearly (verbatim copies would pile
    # all 10 replicas into the same LSH buckets and measure a quadratic
    # blowup the real corpus doesn't have). Each headline LLM op runs
    # once at that scale; the ratio vs its sf0.1 single run from THIS
    # bench process is recorded (both sides same-methodology cold runs).
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0" and abs(sf - 0.1) < 1e-9:
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        tmp = tempfile.mkdtemp(prefix="graft_sf1llm_")
        tmpv = tempfile.mkdtemp(prefix="graft_sf1llm_verbatim_")
        try:
            scale, off = 10, 1 << 40
            rep = F.explode(F.array(*[F.lit(i) for i in range(scale)])).alias("_rep")
            # r14: write the fixtures at session parallelism. The source
            # scan is one task (single small file), so the explode chain
            # used to emit ONE single-row-group file — and every soak op
            # then scanned it as ONE task on 32 cores, which is what made
            # the r10-r13 soak ratios read superlinear (8-13x for linear
            # ops). A real 10x corpus is many files; this is the honest
            # layout (guide §6), not a workload change — op timings below
            # are unchanged in methodology and the fixture rows are
            # identical.
            n_files = spark.sparkContext.defaultParallelism
            t0 = time.time()
            d = load_table(spark, sf_dir, "documents").select("*", rep)
            d = (
                d.withColumn(
                    "doc_id", F.col("doc_id") + F.col("_rep").cast("long") * off
                )
                .withColumn(
                    "text",
                    F.when(F.col("_rep") == 0, F.col("text")).otherwise(
                        F.regexp_replace(
                            F.col("text"),
                            r"(\S+)",
                            F.concat(F.lit("$1_r"), F.col("_rep")),
                        )
                    ),
                )
                .withColumn("n_chars", F.length("text"))
            )
            d.drop("_rep").repartition(n_files).write.parquet(
                os.path.join(tmp, "documents.parquet")
            )
            e_ = load_table(spark, sf_dir, "embeddings").select("*", rep)
            e_ = e_.withColumn(
                "vec_id", F.col("vec_id") + F.col("_rep").cast("long") * off
            )
            e_.drop("_rep").repartition(n_files).write.parquet(
                os.path.join(tmp, "embeddings.parquet")
            )
            # Second, VERBATIM 10x documents fixture (text unchanged,
            # ids offset) for the map-side BPE APPLY row: the suffixed
            # replicas inflate per-word apply cost ~1.4x (bpe_piece is
            # superlinear in word length; `_rN` also splits into 4
            # pre-tokenizer pieces), so the round-10/11 fertility soak
            # rows read 12-13x at 10x data — a fixture artifact, not
            # engine superlinearity (measured: 4.18 -> 1.49 us/piece
            # orig vs suffixed, see OPERATIONS.md). A tokenize pass
            # needs no replica disjointness, so verbatim replication —
            # which preserves per-doc cost exactly — is the honest
            # scale-up fixture for it. Dedup/LM/train rows stay on the
            # suffixed fixture, where disjointness is the point.
            dv = load_table(spark, sf_dir, "documents").select("*", rep)
            dv = dv.withColumn(
                "doc_id", F.col("doc_id") + F.col("_rep").cast("long") * off
            )
            dv.drop("_rep").repartition(n_files).write.parquet(
                os.path.join(tmpv, "documents.parquet")
            )
            gen_sec = round(time.time() - t0, 3)

            sf01_ref = {
                "dedup_minhash_lsh": timings.get("dedup_minhash_lsh"),
                "dedup_exact_substring": r7.get("dedup_exact_substring"),
                "ann_ivfpq_rerank": ann_variants.get("ann_ivfpq_rerank"),
                "text_perplexity_filter_kn": r9.get("text_perplexity_filter_kn"),
                "curation_pipeline_model_gated": r8.get(
                    "curation_pipeline_model_gated"
                ),
                "export_shard_manifest": r10.get("export_shard_manifest"),
                "bpe_train_merges": r7.get("bpe_train_merges"),
                "tokenizer_fertility_report": r10.get(
                    "tokenizer_fertility_report"
                ),
                "dsir_importance_weights": r10.get("dsir_importance_weights"),
                "sample_dsir_resample": r10.get("sample_dsir_resample"),
                "decontaminate_eval_substring": r12.get(
                    "decontaminate_eval_substring"
                ),
                "dedup_keep_best_quality": r12.get("dedup_keep_best_quality"),
                "curation_pipeline_full": r11.get("curation_pipeline_full"),
            }
            soak: dict[str, dict] = {}
            # BPE train vs apply broken out (round-10 verdict): the r10
            # soak ran tokenizer_fertility_report with a COLD memo, so
            # its 13-14x "scaleup" was the 16-round training loop on the
            # suffixed fixture's 10x-inflated vocabulary (train cost
            # scales with distinct pieces — a fixture artifact; a real
            # corpus grows vocabulary ~logarithmically). Timing
            # bpe_train_merges first (recorded as its own op, against
            # the cold-train sf0.1 extra) leaves the memo warm, so the
            # fertility row then measures what it measures at sf0.1:
            # the map-side tokenize-apply pass.
            for vname, vfn in (
                ("dedup_minhash_lsh", llm.dedup_minhash_lsh),
                ("dedup_exact_substring", llm.dedup_exact_substring),
                ("ann_ivfpq_rerank", llm.ann_ivfpq_rerank),
                ("text_perplexity_filter_kn", qual.text_perplexity_filter_kn),
                ("curation_pipeline_model_gated", qual.curation_pipeline_model_gated),
                ("export_shard_manifest", llm.export_shard_manifest),
                ("bpe_train_merges", llm.bpe_train_merges),
                ("tokenizer_fertility_report", llm.tokenizer_fertility_report),
                ("dsir_importance_weights", qual.dsir_importance_weights),
                ("sample_dsir_resample", qual.sample_dsir_resample),
                # Round-13 soak additions: the only substring-machinery
                # consumer with an eval-side join (train×eval shingle
                # equi-join — replicas are shingle-disjoint so the
                # cross-side candidate volume stays per-replica), and
                # the re-pointed quality-aware canonical selection
                # (banded-LSH candidate pairs — the row that certifies
                # the r13 swap killed the quadratic generator).
                ("decontaminate_eval_substring", llm.decontaminate_eval_substring),
                ("dedup_keep_best_quality", llm.dedup_keep_best_quality),
                # The flagship composed operator (round-12 verdict ask):
                # the one real users run end-to-end, soaked at 10x like
                # its component stages. Timed LAST so its persisted KN
                # frame can't warm any other row.
                ("curation_pipeline_full", qual.curation_pipeline_full),
            ):
                # Min-of-2 per soak row (round-13 verdict ask #2): the
                # single-run rows sat at the tail of a long JVM and
                # jittered up to ~6x vs standalone re-measures (driver
                # r13 dedup_exact_substring 8.89x vs 6.06x standalone;
                # dedup_keep_best_quality 10.11x in-bench vs 1.56x
                # fresh-JVM min-of-2) — the one number in BENCH_rN that
                # manufactured phantom regressions. Same rule the sf0.1
                # extras (_timed_extra) and the SF-1 IVM already use;
                # gc.collect() between runs releases py4j refs so
                # ContextCleaner can actually drop checkpoint/shuffle
                # blocks before the second measurement.
                rs = []

                def _soak_run(vname=vname, vfn=vfn) -> float:
                    spark.catalog.clearCache()
                    gc.collect()
                    if vname == "bpe_train_merges":
                        # pop before EACH run: all must be cold trains
                        llm._TRAINED_MERGES.pop(tmp, None)
                    # The map-side BPE apply row runs on the VERBATIM
                    # replica fixture (see its generation comment above).
                    src = tmpv if vname == "tokenizer_fertility_report" else tmp
                    t0 = time.time()
                    _run(vfn(spark, src))
                    return round(time.time() - t0, 3)

                rs = [_soak_run(), _soak_run()]
                # Same >1.5x-disagreement tie-breaker as _timed_extra
                # (r14 verdict ask #6) — the soak rows are the scaleup
                # numerators, so one noisy run reads as superlinearity.
                if max(rs) > 1.5 * min(rs):
                    rs.append(_soak_run())
                sec = min(rs)
                ref = sf01_ref.get(vname)
                soak[vname] = {
                    "sec": sec,
                    "runs": rs,
                    "sf01_sec": ref,
                    "scaleup_x10": round(sec / ref, 2) if ref else None,
                }
            soak["tokenizer_fertility_report"]["note"] = (
                "apply-only, VERBATIM replica fixture (train broken out "
                "above on the suffixed fixture; suffixed replicas "
                "inflate per-word apply cost ~1.4x — bpe_piece is "
                "superlinear in word length — which is why the r10/r11 "
                "rows read 12-13x; see OPERATIONS.md bench section)"
            )
            extra["sf1_llm"] = {
                "sf": 1,
                "docs": 10 * load_table(spark, sf_dir, "documents").count(),
                "vectors": 10 * load_table(spark, sf_dir, "embeddings").count(),
                "table_gen_sec": gen_sec,
                "note": "10x replication, replicas word-suffixed (bijective "
                "vocab map per replica: within-replica statistics exact, "
                "replicas shingle-disjoint)",
                "ops": soak,
            }
        except Exception as e:  # the soak must never sink the bench
            extra["sf1_llm_error"] = f"{type(e).__name__}: {e}"[:300]
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(tmpv, ignore_errors=True)

    # Headline value = the reference-comparable workload (BASELINE.md
    # measures exactly this: consume the full insert+delete changelog
    # and maintain Q3). The full suite wall-clock rides along in extra.
    suite_total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "changelog_stream_q3_wall_clock (reference-comparable: "
                "full insert+delete cycle incl. generation; suite details in queries)",
                "value": timings["changelog_stream_q3"],
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "extra": {**extra, "extras_runs": extras_runs, "suite_total_sec": suite_total},
            }
        )
    )
    # Compact gate summary, printed LAST (round-10 verdict): the driver
    # records only the final ~2000 stdout chars, and round 10's verbose
    # blocks pushed every gate-relevant number (vs_baseline_ivm, the
    # sf1 block, ann_variants_note) out of BENCH_r10.json's tail. This
    # line is a complete, parseable JSON object well under that window;
    # the verbose record above remains intact for local readers.
    sf1 = extra.get("sf1", {})
    llm_soak = extra.get("sf1_llm", {}).get("ops", {})
    worst_op, worst_x = None, None
    for op, row in llm_soak.items():
        x = row.get("scaleup_x10")
        if x is not None and (worst_x is None or x > worst_x):
            worst_op, worst_x = op, x
    print(
        json.dumps(
            {
                "summary": "gate-relevant numbers (verbose record on the previous line)",
                "metric": "changelog_stream_q3_wall_clock",
                "value": timings["changelog_stream_q3"],
                "unit": "sec",
                "sf": sf,
                "queries": timings,
                "suite_total_sec": suite_total,
                "sf1_ivm_consume_sec": sf1.get("ivm_consume_sec"),
                "vs_baseline_ivm": sf1.get("vs_baseline_ivm"),
                "sf1_consume_q3_sec": sf1.get("consume_q3_sec"),
                "vs_baseline_consume": sf1.get("vs_baseline_consume"),
                "sf1_ivm_events_per_sec": sf1.get("ivm_events_per_sec"),
                "sf1_churn_matches_batch": extra.get("sf1_churn", {}).get(
                    "matches_batch"
                ),
                "sf1_llm_worst_scaleup_x10": {"op": worst_op, "x": worst_x},
                "ann_variants_note": "cold per run since r10 (see extra."
                "ann_variants_note + OPERATIONS.md bench section)",
                "errors": {
                    k: extra[k]
                    for k in ("sf1_error", "sf1_llm_error")
                    if k in extra
                },
            }
        )
    )


if __name__ == "__main__":
    main()
