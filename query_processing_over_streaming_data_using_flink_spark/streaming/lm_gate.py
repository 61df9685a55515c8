"""Streaming faces of the statistical-LM quality components
(`operators/lm.py`) — the train-online / apply-online shapes a live
curation pipeline runs:

* `IncrementalBigramLM` — the bigram-LM count tables maintained
  continuously over a documents stream on the shared crash-atomic
  versioned state store (`IncrementalGroupedAgg`): Δcounts(corpus) =
  counts(Δcorpus), so model training IS an incrementally-maintainable
  aggregate. Supports signed weights (an `op` column) so document
  deletions retract their n-grams — the model forgets removed data,
  which is exactly what a right-to-be-forgotten pipeline needs.
* `IncrementalKneserNeyLM` — the same pattern lifted to the CCNet-
  standard interpolated KN trigram model: raw trigram counts are the
  maintained signed-weight state; the continuation-count rollups
  (type counts, non-additive under retraction) derive from the live
  t3 at read time with batch training's own aggregates.
* `IncrementalDsirModel` — the DSIR importance model's streaming
  face: both hashed-n-gram bucket histograms (target and raw) in one
  signed-weight state table; the broadcastable log-ratio table derives
  at read time with the batch fit's own arithmetic.
* `run_streaming_ppl_gate` — the apply-online face: each arriving
  micro-batch is scored against a FROZEN trained model (stream-static
  broadcast joins, zero streaming state) and gated on the perplexity
  threshold; outputs are written per-epoch (overwrite) so redelivery
  is idempotent.

The streamed model is bit-equal to batch training (integer counts,
associative folds), pinned by stream==batch tests.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from query_processing_over_streaming_data_using_flink_spark.operators import lm
from query_processing_over_streaming_data_using_flink_spark.streaming.drain import drain_file_source, run_face
from query_processing_over_streaming_data_using_flink_spark.streaming.incragg import IncrementalGroupedAgg


class IncrementalBigramLM:
    """Continuously-trained add-one bigram LM: per micro-batch the
    document delta explodes to its bigram stream and folds signed
    counts into the (prev, w) state table. `model()` reads the current
    counts and derives the context totals and vocabulary — the same
    three frames `operators.lm.perplexity` scores against."""

    def __init__(self, spark: SparkSession, state_dir: str):
        def delta(batch: DataFrame) -> DataFrame:
            pairs = lm.doc_bigrams(batch)
            return pairs.groupBy("prev", "w").agg(
                F.sum("op").cast("long").alias("c_pw")
            )

        self.agg = IncrementalGroupedAgg(
            spark,
            state_dir,
            group_cols=["prev", "w"],
            measure_cols=["c_pw"],
            schema="bucket int, prev string, w string, c_pw long",
            delta_fn=delta,
        )

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        self.agg.process_batch(batch, epoch_id)

    def model(self) -> tuple[DataFrame, DataFrame, DataFrame]:
        """(bigram_counts, context_counts, vocab) — live view of the
        maintained model, bit-equal to `lm.bigram_lm_train` over the
        ingested corpus (stream==batch pinned in tests)."""
        big = self.agg.result().filter(F.col("c_pw") != 0)
        ctx = big.groupBy("prev").agg(F.sum("c_pw").alias("c_p"))
        vocab = big.agg(F.countDistinct("w").alias("v"))
        return big, ctx, vocab


class IncrementalKneserNeyLM:
    """Continuously-trained interpolated Kneser-Ney trigram LM
    (`operators/lm.py:kn_trigram_train`'s streaming face). Only the
    RAW trigram count table t3 is maintained as streaming state —
    Δc3(corpus) = c3(Δcorpus) is a plain signed-weight integer fold,
    so ingestion stays associative and retraction-capable exactly like
    the bigram model. The five derived tables (t2, b2, b2c, u1, stats)
    are TYPE counts over t3 (N1+ continuation counts are counts of
    distinct nonzero trigram types), which are not additive under
    retraction — so `model()` derives them from the live t3 with the
    *identical aggregates batch training uses*, making stream==batch
    bit-equality structural rather than coincidental. The rollups cost
    one pass over the vocabulary-bounded t3, not the corpus."""

    def __init__(self, spark: SparkSession, state_dir: str):
        def delta(batch: DataFrame) -> DataFrame:
            tris = lm.doc_trigrams(batch)
            return tris.groupBy("u", "v", "w").agg(
                F.sum("op").cast("long").alias("c3")
            )

        self.agg = IncrementalGroupedAgg(
            spark,
            state_dir,
            group_cols=["u", "v", "w"],
            measure_cols=["c3"],
            schema="bucket int, u string, v string, w string, c3 long",
            delta_fn=delta,
        )

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        self.agg.process_batch(batch, epoch_id)

    def model(
        self,
    ) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
        """(t3, t2, b2, b2c, u1, stats) — live view of the maintained
        model, bit-equal to `lm.kn_trigram_train` over the ingested
        corpus (stream==batch pinned in tests). Same rollup expressions
        as batch training, applied to the nonzero rows of the
        incrementally-held t3."""
        t3 = self.agg.result().filter(F.col("c3") != 0)
        t2 = t3.groupBy("u", "v").agg(
            F.sum("c3").alias("c2"), F.count("*").alias("n1p2")
        )
        b2 = t3.groupBy("v", "w").agg(F.count("*").alias("cont2"))
        b2c = b2.groupBy("v").agg(
            F.sum("cont2").alias("ctx2"), F.count("*").alias("n1p1")
        )
        u1 = b2.groupBy("w").agg(F.count("*").alias("cont1"))
        stats = u1.agg(F.sum("cont1").alias("bt"), F.count("*").alias("vs"))
        return t3, t2, b2, b2c, u1, stats


def run_streaming_lm_train(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    files_per_trigger: int = 2,
    checkpoint_dir: str | None = None,
    model_class: str = "bigram",
) -> IncrementalBigramLM | IncrementalKneserNeyLM:
    """Drain a documents directory as micro-batches into the
    incrementally-trained LM (`model_class`: "bigram" or "kn");
    returns the pipeline for `model()`."""
    if model_class == "kn":
        pipe: IncrementalBigramLM | IncrementalKneserNeyLM = IncrementalKneserNeyLM(
            spark, state_dir
        )
    elif model_class == "bigram":
        pipe = IncrementalBigramLM(spark, state_dir)
    else:
        raise ValueError(f"unknown model_class {model_class!r}")

    run_face(
        lambda h: drain_file_source(spark, docs_dir, h, files_per_trigger, checkpoint_dir),
        [pipe.agg.state],
        pipe.process_batch,
        checkpoint_dir,
    )
    return pipe


def _check_fresh_out_dir(out_dir: str, checkpoint_dir: str | None) -> None:
    """Refuse a pre-populated output directory on a fresh run: each
    epoch overwrites only its own `epoch=N/`, so re-running into an old
    out_dir with different batching (or a different frozen model) would
    leave STALE higher-numbered epochs in the returned union. With a
    checkpoint the stream resumes its own epoch sequence and existing
    dirs are its own prior output — allowed."""
    import glob as _glob

    if checkpoint_dir is None and _glob.glob(os.path.join(out_dir, "epoch=*")):
        raise ValueError(
            f"out_dir {out_dir!r} already holds epoch=* outputs from a "
            "previous run; pass a fresh directory (or the original "
            "checkpoint_dir to resume that run)"
        )


def run_streaming_ppl_gate(
    spark: SparkSession,
    docs_dir: str,
    model: tuple[DataFrame, ...],
    out_dir: str,
    keep_max: float,
    files_per_trigger: int = 2,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Score a documents stream against a frozen model and gate on
    perplexity — stateless stream-static scoring: the model sides
    broadcast into each micro-batch, no streaming state accrues. The
    model tuple's arity selects the scorer: 3 = (big, ctx, vocab)
    add-one bigram, 6 = (t3, t2, b2, b2c, u1, stats) interpolated
    Kneser-Ney trigram — either `*_lm_train` batch output or an
    Incremental*LM's `model()`. Each epoch writes `epoch=N/` with
    overwrite, so a redelivered epoch rewrites the same rows
    (idempotent). Returns the union of all gated outputs."""
    _check_fresh_out_dir(out_dir, checkpoint_dir)
    if len(model) == 3:
        score = lambda batch: lm.perplexity(batch, *model)  # noqa: E731
    elif len(model) == 6:
        score = lambda batch: lm.kn_perplexity(batch, *model)  # noqa: E731
    else:
        raise ValueError(
            f"model must have 3 (bigram) or 6 (KN trigram) frames, got {len(model)}"
        )
    def handle(batch: DataFrame, epoch_id: int) -> None:
        scored = score(batch).withColumn(
            "keep", F.col("ppl") <= F.lit(keep_max)
        )
        scored.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={epoch_id}")
        )

    drain_file_source(spark, docs_dir, handle, files_per_trigger, checkpoint_dir)
    return spark.read.option("basePath", out_dir).parquet(out_dir + "/epoch=*").drop(
        "epoch"
    )


def run_streaming_nb_router(
    spark: SparkSession,
    docs_dir: str,
    model: tuple[DataFrame, DataFrame, DataFrame],
    out_dir: str,
    files_per_trigger: int = 2,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Route a documents stream by a frozen Naive Bayes model — the
    classifier counterpart of `run_streaming_ppl_gate` (the second
    apply-online face): per micro-batch the (term_counts,
    class_totals, stats) model broadcasts into `lm.nb_classify`, the
    arriving docs get a predicted label, and each epoch's routed
    output is written `epoch=N/` with overwrite (idempotent under
    redelivery). Zero streaming state; the model never moves. Returns
    the union of all routed outputs."""
    _check_fresh_out_dir(out_dir, checkpoint_dir)
    term_counts, class_totals, stats = model
    def handle(batch: DataFrame, epoch_id: int) -> None:
        routed = lm.nb_classify(batch, term_counts, class_totals, stats)
        routed.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={epoch_id}")
        )

    drain_file_source(spark, docs_dir, handle, files_per_trigger, checkpoint_dir)
    return spark.read.option("basePath", out_dir).parquet(out_dir + "/epoch=*").drop(
        "epoch"
    )


class IncrementalDsirModel:
    """Continuously-trained DSIR importance model
    (`plans/suite_quality.py:dsir_importance_weights`' streaming face).
    The fitted model is two hashed-n-gram bucket histograms — target
    (source = src0) and raw — and both are plain signed-weight integer
    folds: Δcounts(corpus) = counts(Δcorpus). One state table holds
    (bucket, c_q, c_p); deletions retract their feature mass so the
    importance weights forget removed data like the LM models do.
    `ratios()` derives the ≤DSIR_BUCKETS-row broadcast log-ratio table
    with the batch path's own arithmetic, so stream==batch equality is
    structural."""

    def __init__(self, spark: SparkSession, state_dir: str):
        from query_processing_over_streaming_data_using_flink_spark.functions.scalar import md5_hash64
        from query_processing_over_streaming_data_using_flink_spark.operators import text as tx
        from query_processing_over_streaming_data_using_flink_spark.plans import suite_quality as q

        self._q = q

        def delta(batch: DataFrame) -> DataFrame:
            feats = (
                batch.withColumn("tk", tx.tokens(F.col("text")))
                .select(
                    "op",
                    "source",
                    F.explode(F.expr(q._dsir_gram_expr())).alias("gram"),
                )
                .select(
                    "op",
                    "source",
                    F.pmod(md5_hash64(F.col("gram")), F.lit(q.DSIR_BUCKETS)).alias("b"),
                )
            )
            return feats.groupBy("b").agg(
                F.sum("op").cast("long").alias("c_q"),
                F.sum(
                    F.when(F.col("source") == q.DSIR_TARGET_SOURCE, F.col("op")).otherwise(0)
                ).cast("long").alias("c_p"),
            )

        self.agg = IncrementalGroupedAgg(
            spark,
            state_dir,
            group_cols=["b"],
            measure_cols=["c_q", "c_p"],
            schema="bucket int, b long, c_q long, c_p long",
            delta_fn=delta,
        )

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        self.agg.process_batch(batch, epoch_id)

    def counts(self) -> DataFrame:
        """(b, c_q, c_p) live bucket histograms (nonzero raw mass)."""
        return self.agg.result().filter(F.col("c_q") != 0)

    def ratios(self) -> DataFrame:
        """(b, lr_micro): the broadcastable log-ratio table, bit-equal
        to the batch fit over the ingested corpus — same add-one
        cross-product `_lp_micro` arithmetic as `_dsir_per_doc`."""
        from query_processing_over_streaming_data_using_flink_spark.operators import lm as _lm

        q = self._q
        c = self.counts()
        totals = c.agg(
            F.sum("c_q").alias("tot_q"), F.sum("c_p").alias("tot_p")
        )
        return (
            c.crossJoin(F.broadcast(totals))
            .select(
                "b",
                _lm._lp_micro(
                    (F.col("c_p") + F.lit(1)) * (F.col("tot_q") + F.lit(q.DSIR_BUCKETS)),
                    (F.col("c_q") + F.lit(1)) * (F.col("tot_p") + F.lit(q.DSIR_BUCKETS)),
                ).alias("lr_micro"),
            )
        )
