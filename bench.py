"""Benchmark harness: runs the suite at $SPARK_GRAFT_SF_DIR (default:
the sf0.1 fixture) on local[$SPARK_GRAFT_CPUS] and prints two JSON
lines: the verbose record
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ..., "extra": {...}}
then, LAST, a compact summary of the gate-relevant numbers for readers
that keep only the tail of stdout. Exits 1 if any row or section
raised; the failures are listed in the summary's `errors`.

Comparison anchor (BASELINE.md): the reference consumes the SF-1
changelog (15.3M events) in ~71s ≈ 215K events/s. The
`changelog_stream_q3` row is the same workload — generate the full
insert+delete cycle and evaluate Q3 over the stream's state — so
`extra.events_per_sec` is directly comparable across scale factors.
At sf0.1 the harness also replicates the fixtures 10× to SF-1 and
times the batch Q3, the one-shot consume and the micro-batched IVM
there, plus a 10× soak of the heavy LLM-data rows.

Every timed number goes through `timed`: cached blocks cleared and a
GC before each run, one priming run (reported, never scored), then two
timed runs and a tie-breaker third when they disagree by more than
1.5×; the row reports the min. Queries execute through a noop sink (the
full plan runs, no driver collect cost). Fixture generation and
warmup are one-shot setup costs, reported as single readings.
"""

from __future__ import annotations

import gc
import itertools
import json
import os
import sys
import tempfile
import time
import traceback
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from query_processing_over_streaming_data_using_flink_spark.session import get_spark

# Fixture tags for the row table: the bench scale factor, and the two
# 10× replicas built at sf0.1 (word-suffixed documents, verbatim ones).
SF, SF1, SF1_VERBATIM = "sf", "sf1", "sf1_verbatim"
HEADLINE = "queries"
SOAK = "sf1_llm"
SCALE, KEY_OFFSET = 10, 1 << 40
BASELINE_SEC = 71.0
ANN_NOTE = (
    "primed, min-of-2 (+1 tie-breaker past 1.5x), cold per run "
    "(cache cleared before every run, so index training never reuses "
    "a block cached by the preceding variant)"
)


class Timing(NamedTuple):
    sec: float  # min of the timed runs
    runs: list[float]  # every timed run, in order
    prime: float  # the priming run, excluded from `sec` and `runs`


def timed(spark, thunk) -> Timing:
    """The harness's one timing rule. Every run starts cold (cached
    blocks cleared, Python garbage collected so py4j references release
    their JVM blocks). One priming run absorbs first-execution costs —
    JIT, file listing, a preceding fixture write's dirty-page
    writeback — then two timed runs; a third breaks the tie when they
    disagree by more than 1.5×, since that means one of them was
    noise."""

    def run() -> float:
        spark.catalog.clearCache()
        gc.collect()
        t0 = time.time()
        thunk()
        return round(time.time() - t0, 3)

    prime = run()
    runs = [run(), run()]
    if max(runs) > 1.5 * min(runs):
        runs.append(run())
    return Timing(min(runs), runs, prime)


def write_noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def suite(changelog_window: int) -> list[tuple]:
    """The benchmark as a table of (group, name, query function,
    fixture) rows, run in order. `queries` rows are the headline suite;
    every other group but `sf1_llm` is an `extra.<group>` dict of sf-scale
    rows; `sf1_llm` rows are the 10× soak. Query functions take
    (spark, fixture dir) and return the DataFrame to time."""
    from query_processing_over_streaming_data_using_flink_spark.plans import (
        suite_llm_data as llm,
        suite_quality as qual,
        suite_relational as rel,
        suite_sketch as sk,
    )
    from query_processing_over_streaming_data_using_flink_spark.plans.tpch import (
        q3_shipping_priority,
    )
    from query_processing_over_streaming_data_using_flink_spark.streaming.changelog import (
        build_changelog,
    )
    from query_processing_over_streaming_data_using_flink_spark.streaming.retraction import (
        q3_on_state,
    )

    def changelog_stream_q3(spark, d):
        # pin=False: q3_on_state never reads seq, so Catalyst prunes the
        # generator's rank machinery; a pinned build would materialize
        # ranks the query never uses.
        return q3_on_state(build_changelog(spark, d, window=changelog_window, pin=False))

    def bpe_train_merges(spark, d):
        # Drop the trained-table memo so every run trains cold; the
        # rows after it then reuse the warm table by design.
        llm._TRAINED_MERGES.pop(d, None)
        return llm.bpe_train_merges(spark, d)

    return [
        (HEADLINE, "q3_shipping_priority", q3_shipping_priority, SF),
        (HEADLINE, "agg_lineitem_pricing_summary", rel.agg_lineitem_pricing_summary, SF),
        (HEADLINE, "join_orders_lineitem_revenue", rel.join_orders_lineitem_revenue, SF),
        (HEADLINE, "changelog_stream_q3", changelog_stream_q3, SF),
        (HEADLINE, "dedup_minhash_lsh", llm.dedup_minhash_lsh, SF),
        (HEADLINE, "ann_bruteforce", llm.ann_bruteforce, SF),
        (HEADLINE, "text_stats", llm.text_stats, SF),
        (HEADLINE, "embedding_covariance", llm.embedding_covariance, SF),
        ("ann_variants", "ann_lsh", llm.ann_lsh, SF),
        ("ann_variants", "ann_ivf", llm.ann_ivf, SF),
        ("ann_variants", "ann_pq", llm.ann_pq, SF),
        ("ann_variants", "ann_ivfpq", llm.ann_ivfpq, SF),
        ("ann_variants", "ann_ivfpq_rerank", llm.ann_ivfpq_rerank, SF),
        ("llm_extras", "dedup_exact_substring", llm.dedup_exact_substring, SF),
        ("llm_extras", "dedup_substring_rewrite", llm.dedup_substring_rewrite, SF),
        ("llm_extras", "text_bpe_token_count", llm.text_bpe_token_count, SF),
        ("llm_extras", "bpe_train_merges", bpe_train_merges, SF),
        ("llm_extras", "text_token_count_trained", llm.text_token_count_trained, SF),
        ("quality_extras", "text_perplexity_filter", qual.text_perplexity_filter, SF),
        ("quality_extras", "classify_naive_bayes_lang", qual.classify_naive_bayes_lang, SF),
        ("quality_extras", "text_gopher_rules", qual.text_gopher_rules, SF),
        ("quality_extras", "merge_upsert_customer", rel.merge_upsert_customer, SF),
        ("quality_extras", "snapshot_diff_customer", rel.snapshot_diff_customer, SF),
        ("quality_extras", "er_fuzzy_part_names", rel.er_fuzzy_part_names, SF),
        ("quality_extras", "bloom_membership_audit", sk.bloom_membership_audit, SF),
        ("quality_extras", "ann_sq8", llm.ann_sq8, SF),
        ("quality_extras", "mine_hard_negatives", qual.mine_hard_negatives, SF),
        ("quality_extras", "sample_uncertain_margin", qual.sample_uncertain_margin, SF),
        ("quality_extras", "curation_pipeline_model_gated", qual.curation_pipeline_model_gated, SF),
        ("quality_extras", "dedup_semantic_ivf", llm.dedup_semantic_ivf, SF),
        ("quality_extras", "embedding_outliers", llm.embedding_outliers, SF),
        ("quality_extras", "source_overlap_matrix", llm.source_overlap_matrix, SF),
        ("lm_extras", "text_perplexity_filter_kn", qual.text_perplexity_filter_kn, SF),
        ("lm_extras", "text_perplexity_buckets_kn", qual.text_perplexity_buckets_kn, SF),
        ("lm_extras", "sample_cluster_balanced", llm.sample_cluster_balanced, SF),
        ("export_extras", "export_shard_manifest", llm.export_shard_manifest, SF),
        ("export_extras", "tokenizer_fertility_report", llm.tokenizer_fertility_report, SF),
        ("export_extras", "mixture_ppl_tilted", qual.mixture_ppl_tilted, SF),
        ("export_extras", "dsir_importance_weights", qual.dsir_importance_weights, SF),
        ("export_extras", "sample_dsir_resample", qual.sample_dsir_resample, SF),
        ("pipeline_extras", "curation_pipeline_full", qual.curation_pipeline_full, SF),
        ("pipeline_extras", "decontaminate_eval_ngram13", llm.decontaminate_eval_ngram13, SF),
        ("pipeline_extras", "eval_burn_report", llm.eval_burn_report, SF),
        ("pipeline_extras", "sample_moore_lewis", qual.sample_moore_lewis, SF),
        ("pipeline_extras", "classifier_calibration_bins", qual.classifier_calibration_bins, SF),
        ("pipeline_extras", "mixture_unimax_epochs", llm.mixture_unimax_epochs, SF),
        ("pipeline_extras", "export_curriculum_manifest", qual.export_curriculum_manifest, SF),
        ("curation_extras", "decontaminate_eval_substring", llm.decontaminate_eval_substring, SF),
        ("curation_extras", "dedup_clusters_minhash", llm.dedup_clusters_minhash, SF),
        ("curation_extras", "text_unigram_entropy", qual.text_unigram_entropy, SF),
        ("curation_extras", "tokenizer_compression_by_source", llm.tokenizer_compression_by_source, SF),
        ("curation_extras", "dedup_embedding_cosine_planted", llm.dedup_embedding_cosine_planted, SF),
        ("curation_extras", "dedup_keep_best_quality", llm.dedup_keep_best_quality, SF),
        (SOAK, "dedup_minhash_lsh", llm.dedup_minhash_lsh, SF1),
        (SOAK, "dedup_exact_substring", llm.dedup_exact_substring, SF1),
        (SOAK, "ann_ivfpq_rerank", llm.ann_ivfpq_rerank, SF1),
        (SOAK, "text_perplexity_filter_kn", qual.text_perplexity_filter_kn, SF1),
        (SOAK, "curation_pipeline_model_gated", qual.curation_pipeline_model_gated, SF1),
        (SOAK, "export_shard_manifest", llm.export_shard_manifest, SF1),
        (SOAK, "bpe_train_merges", bpe_train_merges, SF1),
        # A tokenize pass needs no replica disjointness, and the word
        # suffix inflates per-word BPE apply cost ~1.4x, so this row
        # runs on the verbatim replicas.
        (SOAK, "tokenizer_fertility_report", llm.tokenizer_fertility_report, SF1_VERBATIM),
        (SOAK, "dsir_importance_weights", qual.dsir_importance_weights, SF1),
        (SOAK, "sample_dsir_resample", qual.sample_dsir_resample, SF1),
        (SOAK, "decontaminate_eval_substring", llm.decontaminate_eval_substring, SF1),
        (SOAK, "dedup_keep_best_quality", llm.dedup_keep_best_quality, SF1),
        # Last, so its persisted KN frame cannot warm any other row.
        (SOAK, "curation_pipeline_full", qual.curation_pipeline_full, SF1),
    ]


def replicate(spark, src, dst, table, keys, files=None, suffix_words=False) -> None:
    """Write `table` from `src` to `dst` at SCALE× its size. Replica r
    adds r·2^40 to every key column, so replicas have disjoint keys and
    the same join fan-out. `suffix_words` maps every word of replicas
    1.. to "word_rN": a bijective vocabulary map, so within-replica
    statistics stay exact while replicas stay shingle-disjoint (dedup
    candidates then scale linearly instead of piling all replicas into
    the same LSH buckets). `files` repartitions the output: the source
    is one small file, which would otherwise scan as one task."""
    from pyspark.sql import functions as F

    from query_processing_over_streaming_data_using_flink_spark.sources.catalog import load_table

    rep = F.explode(F.array(*[F.lit(i) for i in range(SCALE)])).alias("_rep")
    df = load_table(spark, src, table).select("*", rep)
    for k in keys:
        df = df.withColumn(k, F.col(k) + F.col("_rep").cast("long") * KEY_OFFSET)
    if suffix_words:
        df = df.withColumn(
            "text",
            F.when(F.col("_rep") == 0, F.col("text")).otherwise(
                F.regexp_replace("text", r"(\S+)", F.concat(F.lit("$1_r"), F.col("_rep")))
            ),
        ).withColumn("n_chars", F.length("text"))
    df = df.drop("_rep")
    if files is not None:
        df = df.repartition(files)
    df.write.parquet(os.path.join(dst, f"{table}.parquet"))


def sf1_q3(spark, sf_dir: str) -> dict:
    """SF-1 parity point: BASELINE.md measures the reference at SF-1
    (15.3M events, ~71s best). Replicate the sf0.1 TPC-H tables 10× and
    time, at the baseline's own scale, the batch Q3, the one-shot
    consume of the staged changelog, and the micro-batched IVM over it;
    then a windowed-churn IVM soak checked against the batch result."""
    from pyspark.sql import functions as F

    from query_processing_over_streaming_data_using_flink_spark.plans.tpch import (
        q3_shipping_priority,
    )
    from query_processing_over_streaming_data_using_flink_spark.sources.catalog import load_table
    from query_processing_over_streaming_data_using_flink_spark.streaming.changelog import (
        build_changelog,
    )
    from query_processing_over_streaming_data_using_flink_spark.streaming.ivm import (
        run_streaming_q3,
    )
    from query_processing_over_streaming_data_using_flink_spark.streaming.retraction import (
        q3_on_state,
    )
    from query_processing_over_streaming_data_using_flink_spark.streaming.state_table import (
        dir_bytes,
    )

    with tempfile.TemporaryDirectory(prefix="graft_sf1_") as tmp:
        t0 = time.time()
        replicate(spark, sf_dir, tmp, "customer", ["c_custkey"])
        replicate(spark, sf_dir, tmp, "orders", ["o_orderkey", "o_custkey"])
        replicate(spark, sf_dir, tmp, "lineitem", ["l_orderkey"])
        table_gen_sec = round(time.time() - t0, 3)
        n1 = sum(load_table(spark, tmp, t).count() for t in ("customer", "orders", "lineitem"))

        q3 = timed(spark, lambda: write_noop(q3_shipping_priority(spark, tmp)))
        # The reference consumes a pre-generated changelog (generation
        # is an offline step there), so stage it first and time only
        # the consume.
        staged = os.path.join(tmp, "changelog")
        t0 = time.time()
        build_changelog(spark, tmp, window=(n1 * 2) // 3, pin=False).write.parquet(staged)
        changelog_gen_sec = round(time.time() - t0, 3)
        consume = timed(spark, lambda: write_noop(q3_on_state(spark.read.parquet(staged))))

        def nfiles(d: str) -> int:
            return len([f for f in os.listdir(d) if f.endswith(".parquet")])

        # Every IVM run maintains a fresh state dir. broadcast 1 GiB
        # (est. in-memory ≈ 256 MB on disk) is the local-mode value from
        # OPERATIONS.md; the cluster-conservative default would shuffle
        # the bulk epochs.
        state_dirs = (os.path.join(tmp, f"state{i}") for i in itertools.count())
        ivm = timed(spark, lambda: run_streaming_q3(
            spark, staged, next(state_dirs),
            files_per_trigger=max(1, nfiles(staged) // 4),
            broadcast_threshold_bytes=1 << 30,
        ))

        # Windowed churn: the reference's default window is the whole
        # dataset, so deletes only drain at the end and the run above
        # never exercises churn. window=1M interleaves deletes from ~7%
        # in; truncating at 1.5N keeps the final state non-trivial for
        # the stream==batch check. Compaction every 2 epochs; state
        # size and files are probed after each epoch.
        churn_staged = os.path.join(tmp, "churn_changelog")
        t0 = time.time()
        build_changelog(spark, tmp, window=10**6, pin=False).filter(
            F.col("seq") <= n1 + n1 // 2
        ).write.parquet(churn_staged)
        churn_gen_sec = round(time.time() - t0, 3)
        last: dict = {}

        def churn_run() -> None:
            state, telemetry = next(state_dirs), []

            def probe(epoch_id: int, _top, _stats) -> None:
                try:
                    with open(os.path.join(state, "CURRENT")) as fh:
                        vdir = os.path.join(state, json.load(fh)["version"])
                except FileNotFoundError:
                    vdir = None
                telemetry.append({
                    "epoch": epoch_id,
                    "state_bytes": dir_bytes(vdir) if vdir else 0,
                    "state_files": sum(
                        len([f for f in fs if f.endswith(".parquet")])
                        for _r, _d, fs in os.walk(vdir)
                    ) if vdir else 0,
                })

            # ~5 epochs: enough that inserts and deletes interleave
            # under compaction, few enough that per-epoch fixed costs
            # don't swamp the churn signal.
            last["top"] = run_streaming_q3(
                spark, churn_staged, state,
                files_per_trigger=max(1, nfiles(churn_staged) // 5), compact_every=2,
                on_progress=probe, broadcast_threshold_bytes=1 << 30,
            )
            last["epochs"] = telemetry

        churn = timed(spark, churn_run)
        matches = sorted(map(tuple, last["top"].collect())) == sorted(
            map(tuple, q3_on_state(spark.read.parquet(churn_staged)).collect())
        )
        telemetry = last["epochs"]

    events = 2 * n1
    return {
        "sf1_churn": {
            "note": "different workload from baseline_sec: window=1M "
            "(deletes interleave from ~7% in) vs the reference default "
            "window=whole-dataset; reported for state-churn telemetry, "
            "not headline comparison",
            "window": 10**6,
            "ivm_consume_sec": churn.sec,
            "changelog_gen_sec": churn_gen_sec,
            "epochs": telemetry,
            "peak_state_bytes": max((t["state_bytes"] for t in telemetry), default=0),
            "final_state_bytes": telemetry[-1]["state_bytes"] if telemetry else 0,
            "matches_batch": matches,
        },
        "sf1": {
            "sf": 1,
            "q3_batch_sec": q3.sec,
            "consume_q3_sec": consume.sec,
            "events": events,
            "events_per_sec": round(events / consume.sec, 1),
            "ivm_consume_sec": ivm.sec,
            "ivm_runs_sec": ivm.runs,
            "ivm_events_per_sec": round(events / ivm.sec, 1),
            "changelog_gen_sec": changelog_gen_sec,
            "table_gen_sec": table_gen_sec,
            "baseline_sec": BASELINE_SEC,
            "vs_baseline_consume": round(consume.sec / BASELINE_SEC, 3),
            "vs_baseline_ivm": round(ivm.sec / BASELINE_SEC, 3),
            "vs_baseline_incl_generation": round(
                (consume.sec + changelog_gen_sec) / BASELINE_SEC, 3
            ),
        },
    }


def attempt(errors: dict[str, str], key: str, fn):
    """fn(), or None with the failure recorded under errors[key] (and
    its traceback on stderr): one failing row or section never hides
    the others."""
    try:
        return fn()
    except Exception as e:
        traceback.print_exc()
        errors[key] = f"{type(e).__name__}: {e}"[:300]
        return None


def run_rows(spark, rows, fixtures: dict[str, str], errors) -> dict[str, dict[str, Timing]]:
    """Time, in table order, every row whose fixture tag is in
    `fixtures` (tag -> directory); results grouped by row group."""
    out: dict[str, dict[str, Timing]] = {}
    for group, name, fn, fixture in rows:
        if fixture in fixtures:
            d = fixtures[fixture]
            t = attempt(errors, f"{group}.{name}", lambda: timed(spark, lambda: write_noop(fn(spark, d))))
            if t is not None:
                out.setdefault(group, {})[name] = t
    return out


def sf1_llm(spark, sf_dir: str, rows, sf_secs: dict[str, float], errors) -> dict:
    """The 10× soak of the heavy LLM-data rows: documents and embeddings
    replicated with disjoint ids (documents word-suffixed, plus a
    verbatim copy), each soak row's time set against its sf-scale time.
    Fixtures are written at session parallelism, as a real 10× corpus
    would be many files."""
    from query_processing_over_streaming_data_using_flink_spark.sources.catalog import load_table

    with tempfile.TemporaryDirectory(prefix="graft_sf1llm_") as tmp:
        suffixed, verbatim = os.path.join(tmp, "suffixed"), os.path.join(tmp, "verbatim")
        files = spark.sparkContext.defaultParallelism
        t0 = time.time()
        replicate(spark, sf_dir, suffixed, "documents", ["doc_id"], files, suffix_words=True)
        replicate(spark, sf_dir, suffixed, "embeddings", ["vec_id"], files)
        replicate(spark, sf_dir, verbatim, "documents", ["doc_id"], files)
        table_gen_sec = round(time.time() - t0, 3)
        soak = run_rows(spark, rows, {SF1: suffixed, SF1_VERBATIM: verbatim}, errors).get(SOAK, {})
    ops = {}
    for name, t in soak.items():
        ref = sf_secs.get(name)
        ops[name] = {
            "sec": t.sec,
            "runs": t.runs,
            "sf01_sec": ref,
            "scaleup_x10": round(t.sec / ref, 2) if ref else None,
        }
    if "tokenizer_fertility_report" in ops:
        ops["tokenizer_fertility_report"]["note"] = (
            "apply-only, VERBATIM replica fixture (suffixed replicas "
            "inflate per-word apply cost ~1.4x: bpe_piece is "
            "superlinear in word length)"
        )
    return {
        "sf": 1,
        "docs": SCALE * load_table(spark, sf_dir, "documents").count(),
        "vectors": SCALE * load_table(spark, sf_dir, "embeddings").count(),
        "table_gen_sec": table_gen_sec,
        "note": "10x replication, replicas word-suffixed (bijective "
        "vocab map per replica: within-replica statistics exact, "
        "replicas shingle-disjoint)",
        "ops": ops,
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("bench")

    from query_processing_over_streaming_data_using_flink_spark.sources.catalog import load_table

    errors: dict[str, str] = {}
    n_total = sum(load_table(spark, sf_dir, t).count() for t in ("customer", "orders", "lineitem"))
    rows = suite(changelog_window=(n_total * 2) // 3)

    # Warm the session: file listing at the bench scale, then each
    # headline plan shape once at the smoke scale, so codegen compiles
    # before the priming runs.
    t0 = time.time()
    for t in ("customer", "orders", "lineitem", "documents", "embeddings", "events"):
        load_table(spark, sf_dir, t).count()
    smoke = "/root/testdata/sf0.01"
    if os.path.isdir(smoke) and smoke != sf_dir:
        for group, _name, fn, _fixture in rows:
            if group == HEADLINE:
                try:
                    write_noop(fn(spark, smoke))
                except Exception:
                    pass  # warmup is best-effort; the timed run decides
    warmup_sec = round(time.time() - t0, 3)

    by_group = run_rows(spark, rows, {SF: sf_dir}, errors)
    headline = by_group.pop(HEADLINE, {})
    timings = {n: t.sec for n, t in headline.items()}
    every = {n: t for g in (headline, *by_group.values()) for n, t in g.items()}

    n_events = 2 * n_total
    extra: dict = {
        "warmup_sec": warmup_sec,
        "query_runs": {n: t.runs for n, t in headline.items()},
        "prime_runs": {n: t.prime for n, t in every.items()},
        "changelog_events": n_events,
    }
    if "changelog_stream_q3" in timings:
        extra["events_per_sec"] = round(n_events / timings["changelog_stream_q3"], 1)
    for group, results in by_group.items():
        extra[group] = {n: t.sec for n, t in results.items()}
        if group == "ann_variants":
            extra["ann_variants_note"] = ANN_NOTE
    # The SF-1 sections replicate the sf0.1 fixtures 10×.
    if abs(sf - 0.1) < 1e-9:
        extra.update(attempt(errors, "sf1", lambda: sf1_q3(spark, sf_dir)) or {})
        sf_secs = {n: t.sec for n, t in every.items()}
        soak = attempt(errors, SOAK, lambda: sf1_llm(spark, sf_dir, rows, sf_secs, errors))
        if soak is not None:
            extra[SOAK] = soak
    extras_runs = {n: t.runs for g in by_group.values() for n, t in g.items()}

    # Headline value = the reference-comparable workload (BASELINE.md
    # measures exactly this: consume the full insert+delete changelog
    # and maintain Q3). The full suite wall-clock rides along in extra.
    value = timings.get("changelog_stream_q3")
    suite_total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "changelog_stream_q3_wall_clock (reference-comparable: "
                "full insert+delete cycle incl. generation; suite details in queries)",
                "value": value,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "extra": {**extra, "extras_runs": extras_runs, "suite_total_sec": suite_total},
            }
        )
    )
    sf1 = extra.get("sf1", {})
    scaleups = {
        op: row["scaleup_x10"]
        for op, row in extra.get(SOAK, {}).get("ops", {}).items()
        if row["scaleup_x10"] is not None
    }
    worst = max(scaleups, key=scaleups.get, default=None)
    print(
        json.dumps(
            {
                "summary": "gate-relevant numbers (verbose record on the previous line)",
                "metric": "changelog_stream_q3_wall_clock",
                "value": value,
                "unit": "sec",
                "sf": sf,
                "queries": timings,
                "suite_total_sec": suite_total,
                "sf1_ivm_consume_sec": sf1.get("ivm_consume_sec"),
                "vs_baseline_ivm": sf1.get("vs_baseline_ivm"),
                "sf1_consume_q3_sec": sf1.get("consume_q3_sec"),
                "vs_baseline_consume": sf1.get("vs_baseline_consume"),
                "sf1_ivm_events_per_sec": sf1.get("ivm_events_per_sec"),
                "sf1_churn_matches_batch": extra.get("sf1_churn", {}).get("matches_batch"),
                "sf1_llm_worst_scaleup_x10": {"op": worst, "x": scaleups.get(worst)},
                "ann_variants_note": ANN_NOTE,
                "errors": errors,
            }
        )
    )
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
