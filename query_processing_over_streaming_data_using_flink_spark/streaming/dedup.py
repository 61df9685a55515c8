"""Streaming deduplication — exact dedup over an unbounded document
stream, the online counterpart of `operators/dedup.py:exact_dedup`.

No reference counterpart (the reference's only stateful ops implement
Q3 — SURVEY.md §2.3/2.4); this is driver-mandate surface (§2.11) made
streaming-native.

Two state disciplines, because at 100 TB/day the difference is the
whole design:

* `streaming_exact_dedup` — `dropDuplicatesWithinWatermark`: state for
  a fingerprint is dropped once the watermark passes its event time +
  delay. Bounded state, the only sustainable form for an always-on
  ingest pipeline; duplicates arriving farther apart than the delay
  are (deliberately, boundedly) re-admitted.
* `streaming_exact_dedup_global` — `dropDuplicates`: exact forever,
  state grows with the number of distinct documents. Correct for
  bounded backfills replayed as streams; documented footgun otherwise.

Near-dup (MinHash-band) streaming dedup is `IncrementalNearDedup`
below — a foreachBatch band-ownership state table with a deterministic
first-wins/min-doc-id collision policy, held in the same versioned
bucketed state store as the Q3 IVM (`streaming/state_table.py`): each
epoch READS only the state buckets its band keys hash into and APPENDS
only its new claims, so per-epoch cost is O(batch × state/buckets),
not O(state). The store sizes the bucket count to the cores (4 on a
4-core host, 32 from 32 cores). With 4 buckets a one-doc epoch's 4
band keys reach about 2.7 of them, so it reads most of the bands; it
still ran no slower than with 32 buckets, as per-epoch fixed cost
outweighs the bands read (one-doc epoch median 1.25 s at 4 buckets
against 1.42 s at 32 over the 5 000-doc sf0.1 seed, 1.36 s against
1.51 s over sf0.01's 500 docs; local[4], warm JVM).

The ownership machinery is MODALITY-AGNOSTIC: `band_fn` swaps the
candidate-key generator, so the same class does streaming perceptual
IMAGE near-dedup over dHash pigeonhole bands
(`operators/dedup.py:hamming_band_key_rows` ∘
`operators/multimodal.py:image_dhash`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from query_processing_over_streaming_data_using_flink_spark.functions.scalar import md5_hash64
from query_processing_over_streaming_data_using_flink_spark.operators.text import normalized_text
from query_processing_over_streaming_data_using_flink_spark.streaming.state_table import (
    VersionedBucketedState,
)


def with_fingerprint(stream: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the content fingerprint (same normalization + md5 hash as
    the batch `exact_dedup`, so batch and stream agree on identity)."""
    return stream.withColumn("fingerprint", md5_hash64(normalized_text(F.col(text_col))))


def streaming_exact_dedup(
    stream: DataFrame,
    ts_col: str = "ts",
    delay: str = "1 hour",
    text_col: str = "text",
) -> DataFrame:
    """Watermark-bounded exact dedup of a document stream: first
    arrival of each fingerprint within the watermark horizon passes,
    later ones drop. State is evicted as event time advances."""
    return (
        with_fingerprint(stream, text_col)
        .withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def streaming_exact_dedup_global(stream: DataFrame, text_col: str = "text") -> DataFrame:
    """Unbounded-state exact dedup (first arrival ever wins). Only for
    bounded replays — state is O(distinct docs) with no eviction."""
    return with_fingerprint(stream, text_col).dropDuplicates(["fingerprint"])


class IncrementalNearDedup:
    """foreachBatch near-duplicate filter: MinHash-band ownership state
    maintained across micro-batches (the streaming form of
    `operators/dedup.py:minhash_lsh_pairs`).

    Policy (one pass per batch, deterministic for any batching):
    * every band key has at most one owner doc — first epoch to claim
      it wins; within an epoch the smallest doc_id wins,
    * a doc is flagged `dup_of = min(owner)` over its bands owned by
      another doc; docs with no foreign-owned band are admitted,
    * unclaimed bands are claimed by the batch's min doc_id per band
      (even if that doc was itself flagged — min-label spirit of
      `dedup_clusters`; slight over-grouping, no order dependence).

    Band collisions are *candidates*, not verified Jaccard matches —
    the standard streaming tradeoff; run the batch verifier offline for
    exact pairs.

    State = one (bucket, band_key, owner) table in the shared
    `VersionedBucketedState` store: per batch the state scan is
    restricted to the buckets the batch's band keys hash into (dynamic
    partition pruning), and the epoch's new claims are appended —
    crash-atomic with replay-skip, like the Q3 IVM. Each epoch's
    verdicts are its store output (parquet, never driver memory); a
    redelivered epoch returns its recorded verdicts instead of
    re-applying.
    """

    _TABLES = {"bands": "bucket int, band_key long, owner long"}
    _OUTPUT = "doc_id long, dup_of long"

    def __init__(self, spark, state_dir: str, band_fn=None) -> None:
        """`band_fn(batch) -> DataFrame(doc_id, band_key long)` swaps
        the candidate-key generator: default is MinHash bands over a
        (doc_id, text) batch; pass e.g.
        ``lambda b: hamming_band_key_rows(image_dhash(b), "dh")`` for
        perceptual-hash IMAGE near-dedup over (doc_id, content,
        media_type) batches — the ownership state, bucket pruning,
        crash-atomicity and verdict output are modality-agnostic."""
        self.spark = spark
        self._band_fn = band_fn
        # Restart recovery: the store resumes from the last committed
        # epoch (ids need NOT be dense — a checkpointed restart skips
        # numbers).
        self.state = VersionedBucketedState(spark, state_dir, self._TABLES, output=self._OUTPUT)

    def verdicts_df(self) -> DataFrame:
        """All committed verdicts (doc_id, dup_of, epoch)."""
        return self.state.outputs()

    def process_batch(self, batch: DataFrame, epoch: int) -> DataFrame:
        """Apply one micro-batch of documents (doc_id, text). Returns
        and records the verdict frame (doc_id, dup_of nullable)."""
        from query_processing_over_streaming_data_using_flink_spark.operators import dedup as dd

        def claim() -> None:
            if self._band_fn is not None:
                band_rows = self._band_fn(batch)
            else:
                band_rows = dd.band_keys(
                    dd.minhash_signatures(batch.select("doc_id", "text"))
                ).select("doc_id", "band_key")
            bands = (
                band_rows.distinct()
                .withColumn("bucket", self.state.bucket_of("band_key"))
                .persist()
            )
            # Only the buckets this batch touches are read...
            touched_state = self.state.restrict(self.state.read("bands"), bands)
            batch_owner = bands.groupBy("bucket", "band_key").agg(
                F.min("doc_id").alias("batch_owner")
            )
            owners = (
                bands.join(touched_state, ["bucket", "band_key"], "left")
                .join(batch_owner, ["bucket", "band_key"])
                .withColumn("eff_owner", F.coalesce(F.col("owner"), F.col("batch_owner")))
            )
            verdicts = owners.groupBy("doc_id").agg(
                F.min(
                    F.when(F.col("eff_owner") != F.col("doc_id"), F.col("eff_owner"))
                ).alias("dup_of")
            )
            # ...and only the new claims are appended: a claimed band_key
            # had no owner, so no bucket row is rewritten. One task per
            # write partition owns whole buckets (see `write_partitions`).
            new_claims = (
                owners.filter(F.col("owner").isNull())
                .select("bucket", "band_key", F.col("batch_owner").alias("owner"))
                .repartition(self.state.write_partitions(), "band_key")
                .distinct()
            )
            self.state.stage(new_claims, "bands")
            self.state.stage_output(verdicts.select("doc_id", "dup_of"))
            bands.unpersist()

        # A redelivered epoch's claims are already committed: it returns
        # the recorded verdicts instead of re-applying.
        self.state.apply(epoch, claim)
        return self.state.output(epoch)
