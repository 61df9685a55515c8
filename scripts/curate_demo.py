"""End-to-end training-data curation run — the composite pipeline the
LLM-data operators exist for, wired start to finish:

    documents
      → Gopher rule battery (zero-shuffle)     plans/suite_quality.py
      → exact dedup (canonicals only)          operators/dedup.py
      → PII scrub                              operators/text.py
      → bigram-LM perplexity gate (CCNet)      operators/lm.py
      → corpus-relative quality gate (ntile)   operators/text.py
      → benchmark decontamination              operators/dedup.py
      → perplexity-tilted source mixture       plans/suite_quality.py
      → leakage-safe cluster split             plans/suite_llm_data.py
      → sequence packing (2048-token budget)   operators/text.py
      → partitioned parquet layout             operators/layout.py
      → per-(split, shard) export + manifest   plans/suite_llm_data.py

Every stage is a registered, oracle-checked operator; this script just
composes them and reports the funnel. This is the STAGED deployment
form (each gate shrinks the next stage's input); the oracle-replayable
conjunction of the same lineage is the registered
`curation_pipeline_full`. Run:

    python scripts/curate_demo.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from query_processing_over_streaming_data_using_flink_spark.operators import dedup as dd
from query_processing_over_streaming_data_using_flink_spark.operators import layout
from query_processing_over_streaming_data_using_flink_spark.operators import text as tx
from query_processing_over_streaming_data_using_flink_spark.session import get_spark
from query_processing_over_streaming_data_using_flink_spark.sources.catalog import load_table


def main(sf_dir: str | None, out_dir: str) -> None:
    sf_dir = sf_dir or "/root/testdata/sf0.01"
    spark = get_spark("curate_demo")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, sf_dir, "documents")
    n0 = docs.count()

    from query_processing_over_streaming_data_using_flink_spark.operators import lm
    from query_processing_over_streaming_data_using_flink_spark.plans.suite_quality import (
        PPL_KEEP_MAX,
        PPL_TRAIN_SOURCE,
        text_gopher_rules,
    )

    ruled = text_gopher_rules(spark, sf_dir).filter(F.col("keep")).select("doc_id")
    docs = docs.join(ruled, "doc_id")
    n_rules = docs.count()

    canon = dd.exact_dedup(docs).filter(F.col("is_canonical")).select("doc_id")
    docs = docs.join(canon, "doc_id")
    n1 = docs.count()

    docs = docs.withColumn("text", tx.redact_pii(F.col("text")))

    model = lm.bigram_lm_train(docs.filter(F.col("source") == PPL_TRAIN_SOURCE))
    gated = (
        lm.perplexity(docs, *model)
        .filter(F.col("ppl") <= PPL_KEEP_MAX)
        .select("doc_id")
    )
    docs = docs.join(gated, "doc_id")
    n_ppl = docs.count()

    quart = tx.quality_quartiles(docs).filter(F.col("quartile") <= 3).select("doc_id")
    docs = docs.join(quart, "doc_id")
    n2 = docs.count()

    contaminated = dd.decontaminate(docs, F.col("doc_id") % 53 == 0).select("doc_id")
    docs = docs.join(contaminated, "doc_id", "left_anti")
    n3 = docs.count()

    # Perplexity-tilted source mixture (DoReMi-family): per-source keep
    # rates from the registered KN-model-driven operator (a bounded
    # |sources|-row broadcast), realized by the same deterministic
    # salted Bernoulli draw the oracle certifies.
    from query_processing_over_streaming_data_using_flink_spark.plans.suite_quality import (
        mixture_ppl_tilted,
    )

    rates = mixture_ppl_tilted(spark, sf_dir).select("source", "keep_rate_pmy")
    docs = (
        docs.join(F.broadcast(rates), "source")
        .filter(
            tx.sample_hash(F.col("doc_id"), salt="mixppl", modulus=10000)
            < F.col("keep_rate_pmy")
        )
        .drop("keep_rate_pmy")
    )
    n_mix = docs.count()

    # Leakage-safe train/val/test split: the draw is on the near-dup
    # CLUSTER id, so a paraphrase family can never straddle the
    # train/eval boundary.
    clusters = dd.dedup_clusters(docs, dd.ngram_jaccard_pairs(docs, threshold=0.35))
    cl_draw = tx.sample_hash(F.col("cluster_id"), salt="clsplit", modulus=1000)
    split_col = (
        F.when(cl_draw < tx.SPLIT_VAL_PERMILLE, F.lit("val"))
        .when(cl_draw < tx.SPLIT_VAL_PERMILLE + tx.SPLIT_TEST_PERMILLE, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    docs = docs.join(
        clusters.select("doc_id", split_col.alias("split")), "doc_id"
    )
    split_counts = {
        r["split"]: r["n"]
        for r in docs.groupBy("split").agg(F.count("*").alias("n")).collect()
    }

    packed = tx.pack_sequences(docs, budget_tokens=2048).join(
        docs.select("doc_id", "text", "source", "split"), "doc_id"
    )
    n_seqs = packed.select("lang", "seq_id").distinct().count()

    n_files = layout.write_partitioned(
        packed, out_dir, ["lang"], sort_cols=["seq_id", "doc_id"],
        target_file_bytes=32 << 20,
    )

    # Final stage: the deterministic shard export with its verifiable
    # manifest (the artifact a training run actually consumes) — shard
    # + order are salted-md5 of the data, the 64-row manifest is the
    # integrity record downstream consumers diff instead of bytes.
    from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
        N_SHARDS,
        shard_doc_frame,
    )

    sharded = shard_doc_frame(docs, extra=("text", "lang", "source", "split"))
    export_dir = os.path.join(out_dir, "shards")
    (
        sharded.repartition(N_SHARDS, "shard_id")
        .sortWithinPartitions("draw", "doc_id")
        # ship only the training columns; shard/draw/fp are derivable
        # from the data and live in the manifest, not the artifact
        .select("split", "shard_id", "doc_id", "text", "lang", "source")
        .write.mode("overwrite")
        .partitionBy("split", "shard_id")
        .parquet(export_dir)
    )
    # Audit from the WRITTEN artifact (one cheap re-read), not by
    # re-running the whole curation chain a second time.
    manifest = (
        spark.read.parquet(export_dir)
        .groupBy("split", "shard_id")
        .agg(F.count("*").alias("n_docs"))
        .groupBy("split")
        .agg(F.count("*").alias("shards"), F.sum("n_docs").alias("docs"))
        .orderBy("split")
        .collect()
    )
    export_report = ", ".join(
        f"{r['split']}: {r['docs']} docs/{r['shards']} shards" for r in manifest
    )

    print(
        f"docs {n0} -> rules {n_rules} -> dedup {n1} -> perplexity {n_ppl} "
        f"-> quality {n2} -> decontam {n3} -> mixture {n_mix} -> split "
        f"{split_counts}; "
        f"{n_seqs} packed sequences; layout: {n_files} write tasks -> {out_dir}; "
        f"export: {export_report} -> {export_dir}"
    )


def stream_main(sf_dir: str | None) -> None:
    """`--stream`: the CONTINUOUS-ingest deployment form — drain the
    corpus as micro-batches into the composed live state
    (`streaming/curation.py`), gate with the live models, and prove
    the export manifest equals the batch `curation_pipeline_full`
    artifact row-for-row (the audit a streaming deployment diffs
    instead of re-running the batch chain)."""
    sf_dir = sf_dir or "/root/testdata/sf0.001"
    spark = get_spark("curate_demo_stream")
    spark.sparkContext.setLogLevel("ERROR")

    from query_processing_over_streaming_data_using_flink_spark.plans.suite_quality import (
        curation_pipeline_full,
    )
    from query_processing_over_streaming_data_using_flink_spark.streaming.curation import (
        run_streaming_curation,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_in = docs.count()
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "docs_src")
        docs.repartition(4).write.parquet(src)
        pipe = run_streaming_curation(
            spark, src, os.path.join(tmp, "state"), files_per_trigger=1
        )
        # epoch ids start at 0, so the final committed epoch + 1 is the
        # micro-batch count.
        n_batches = pipe.dedup.agg.state.committed_epoch() + 1
        live = sorted(tuple(r) for r in pipe.manifest(docs).collect())
        pipe.release_gate_cache()
    batch = sorted(
        tuple(r) for r in curation_pipeline_full(spark, sf_dir).collect()
    )
    n_docs = sum(r[2] for r in live)
    print(
        f"streamed {n_in} docs through {n_batches} micro-batches -> "
        f"live gate kept {n_docs} docs across {len(live)} (split, shard) "
        f"manifest rows; manifest equals batch curation_pipeline_full: "
        f"{live == batch}"
    )


if __name__ == "__main__":
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("sf_dir", nargs="?", help="default sf0.01, or sf0.001 with --stream")
    ap.add_argument(
        "out_dir", nargs="?", default=os.path.join(tempfile.gettempdir(), "curated_corpus")
    )
    ap.add_argument("--stream", action="store_true", help="the continuous-ingest form")
    args = ap.parse_args()
    if args.stream:
        stream_main(args.sf_dir)
    else:
        main(args.sf_dir, args.out_dir)
