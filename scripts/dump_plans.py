"""Generate PLANS.md — formatted physical plans for the headline
queries, the artifact form of the "explain and iterate" discipline:
pushed filters, pruned read schemas, broadcast joins, partial
aggregation, TakeOrderedAndProject tails, and the dynamic-partition-
pruned IVM state probe are all visible in black and white.

Usage: python scripts/dump_plans.py [sf_dir]   (default sf0.01)
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (name, headline, what to look for)
SELECTED = [
    ("q3_shipping_priority", "flagship TPC-H Q3",
     "PushedFilters on every scan, pruned ReadSchema, broadcast joins, "
     "partial HashAggregate, TakeOrderedAndProject tail (no global sort)"),
    ("agg_lineitem_pricing_summary", "TPC-H Q1 scan-aggregate",
     "single scan, map-side partial aggregation, integer-quantized sums"),
    ("dedup_minhash_lsh", "MinHash+LSH near-dedup",
     "relational shingle hashing, band equi-join (no cartesian), "
     "candidate-only verification"),
    ("ann_ivf", "IVF-flat ANN",
     "broadcast centroid table, inverted-list equi-join on cell, "
     "windowed per-query top-k"),
    ("bm25_search", "BM25 lexical search",
     "one corpus scan, 1-row corpus-stats broadcast, "
     "TakeOrderedAndProject tail"),
    ("events_moving_7d_avg", "RANGE-frame moving average",
     "day-grain aggregate then RangeFrame window, no self-join"),
    ("ann_ivfpq", "IVF-PQ composed vector index",
     "code-table scan only (no raw vectors at search time), broadcast "
     "probes + per-query LUT, fixed-subspace-order ADC fold"),
    ("zorder_events_clusters", "Z-order clustering zone map",
     "whole-stage-codegen'd bit-dilation ladder (no UDF), 1-row bounds "
     "broadcast, single aggregation on the 256-key cluster space"),
    ("ann_ivfpq_rerank", "IVFPQ+R exact re-ranking",
     "the ADC candidate stage unchanged, then the R-candidate list "
     "BROADCAST against the corpus for the exact re-score — no corpus "
     "shuffle in the refinement, windowed top-k tail"),
    ("dedup_exact_substring", "span-level exact-substring dedup",
     "shingle hashes computed inside codegen from the token array "
     "(8-byte keys in the exchange, no K-times text blowup), hash "
     "equi-join, per-(pair,diagonal) window for run merging"),
    ("text_bpe_token_count", "true BPE token counting",
     "ArrowEvalPython/MapInPandas over a pruned (doc_id, text) scan — "
     "one embarrassingly parallel pass, no shuffle at all"),
    ("text_perplexity_filter", "bigram-LM perplexity gate",
     "model tables joined on their own keys (broadcast at this scale), "
     "1-row vocab broadcast, integer micro-nat sum per doc — the "
     "corpus streams through, the model shuffles once"),
    ("bloom_membership_audit", "Bloom membership sketch + audit",
     "map-side bit_or partials build the ~2k-word sketch, sketch "
     "BROADCAST into the probe side (the runtime-filter shape), exact "
     "semi-join audit beside it"),
    ("ann_sq8", "SQ8 scalar-quantized ANN",
     "d-row bounds aggregate broadcast, byte-code table scan against "
     "broadcast per-query (weights, bias), fixed index-order fold, "
     "windowed top-k tail"),
    ("text_perplexity_filter_kn", "Kneser-Ney trigram perplexity gate",
     "six vocabulary-bounded model tables equi-joined on their natural "
     "n-gram keys (broadcast at this scale), 1-row stats broadcast, "
     "integer rational-arithmetic scoring inside codegen — the corpus "
     "streams through once, KenLM-style"),
    ("text_perplexity_buckets_kn", "CCNet head/middle/tail buckets (KN)",
     "the KN scoring chain unchanged, then one lang-partitioned ntile "
     "window — a single extra shuffle on lang"),
    ("sample_cluster_balanced", "cluster-rebalanced sampling",
     "broadcast-centroid IVF assignment (no corpus shuffle in "
     "training), deterministic salted-md5 draw, one per-cell window — "
     "rank cap = exact per-cluster output size"),
    ("sample_dsir_resample", "DSIR importance resampling",
     "map-side hashed-n-gram explode, two 4096-bucket hash aggregates "
     "(full map-side combine), ratio table broadcast into the scoring "
     "join, one per-doc sum shuffle, TakeOrderedAndProject tail"),
    ("export_shard_manifest", "deterministic shard export manifest",
     "one corpus scan, ONE exchange (the shard window's partitioning — "
     "identical to the writer's repartition(shard_id)), map-side "
     "partial aggregation down to 64 manifest rows, exact decimal "
     "fingerprint sums"),
    ("mixture_ppl_tilted", "KN-model-driven source mixture",
     "the corpus streams the five model-keyed scoring joins once "
     "(vocabulary-bounded broadcast sides), then per-source rows only: "
     "1-row totals broadcast, rate table broadcast back for the "
     "kept-mass audit — no second corpus shuffle"),
    ("decontaminate_eval_ngram13", "13-gram collision decontamination",
     "one narrow shuffle to distinct (doc, gram-hash) rows, ONE "
     "equi-join on the 60-bit hash (a benchmark-sized eval side "
     "broadcasts under AQE), one per-doc aggregate — no all-pairs "
     "anywhere"),
    ("export_curriculum_manifest", "curriculum-ordered export manifest",
     "the KN scoring chain + ONE exchange (the per-shard difficulty "
     "window doubles as the writer's repartition), exact decimal "
     "fingerprint sums certify the model-ordered schedule"),
    ("mixture_unimax_epochs", "UniMax epoch water-fill",
     "one corpus scan to per-source token masses; the closed-form "
     "water-fill is a |sources|-row window plus two 1-row broadcasts "
     "— no sequential driver loop at any source count"),
    ("split_leakage_safe", "leakage-safe cluster split",
     "banded MinHash candidate join (NO within-block all-pairs — the "
     "r12 swap; the quadratic ngram generator is gone), pointer-jumped "
     "label propagation joins, zero-shuffle split hash on the label"),
    ("curation_pipeline_full", "composed full curation lineage",
     "ONE KN train+score subtree feeding both the perplexity gate and "
     "the mixture rates (r12 single-chain), banded decontamination and "
     "LSH split stages, broadcast rate table, one manifest exchange "
     "partitioned by the writer's own (split, shard) key"),
    ("dedup_keep_best_quality", "quality-aware canonical selection",
     "banded MinHash candidate join since r13 (the quadratic "
     "within-block all-pairs generator is gone), pointer-jumped label "
     "propagation, one window on cluster_id"),
    ("decontaminate_eval_substring_rewrite", "span-burn decontamination",
     "codegen'd shingle hashes (8-byte keys), one hash equi-join "
     "against the eval side, per-(pair,diagonal) run merge, covered "
     "positions exploded then ONE left-anti join to strip — no "
     "per-row UDF in the rewrite"),
    ("dedup_rate_by_source", "per-source dedup telemetry",
     "the LSH clustering subtree unchanged, then a single map-side-"
     "combinable aggregate on source — no extra corpus-scale shuffle"),
    ("decontaminate_eval_semantic", "semantic eval decontamination",
     "10-table sign-LSH bucket equi-join with the eval side BROADCAST "
     "(benchmark-sized at scale), exact-cosine verification on bucket "
     "collisions only, pair-level distinct then one per-doc aggregate "
     "— the corpus side streams its table keys map-side"),
]


def main(sf_dir: str) -> int:
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from query_processing_over_streaming_data_using_flink_spark.session import get_spark

    spark = get_spark("dump_plans", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    queries = mod.queries()

    out = [
        "# PLANS — formatted physical plans of the headline queries",
        "",
        f"Generated by `scripts/dump_plans.py` at `{sf_dir}` "
        "(plan SHAPE is scale-independent; AQE re-sizes at runtime). "
        "Read these next to SCALING.md: every claim there about pushdown, "
        "broadcasts, partial aggregation and top-k tails is visible here.",
        "",
    ]
    from query_processing_over_streaming_data_using_flink_spark.pin import unpinned_for_explain

    for name, headline, look_for in SELECTED:
        # unpinned_for_explain: final-result localCheckpoints become
        # no-ops, so checkpointed queries (mixture_ppl_tilted, the full
        # curation pipeline) dump their real subtree instead of a
        # single `Scan ExistingRDD` (round-11 verdict).
        with unpinned_for_explain():
            df = queries[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
        plan = buf.getvalue().rstrip()
        out += [
            f"## {name} — {headline}",
            "",
            f"What to look for: {look_for}.",
            "",
            "```",
            plan,
            "```",
            "",
        ]
    path = os.path.join(REPO, "PLANS.md")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path} ({len(out)} lines of markdown, {len(SELECTED)} plans)")
    return 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    raise SystemExit(main(ap.parse_args().sf_dir))
