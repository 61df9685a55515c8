"""Generic incremental maintenance of GROUPED AGGREGATES over a
changelog stream — the aggregate-only face of the IVM framework.

`streaming/ivm.py` maintains a three-way join view (Q3) with the
two-term delta rule of each join; this module is the same discipline for
views with no join: because a signed-weight aggregate is LINEAR in its
input, the delta of the view is simply the same aggregate applied to
the micro-batch (`Δagg(R) = agg(ΔR)`), appended to the log-structured
state. No state is ever read on the write path — per-epoch cost is one
batch-sized groupBy (map-side partials) plus an O(delta) append — and
the current view is the fold of the state log, read on demand.

Shares ALL state mechanics with the join IVM (versioned dirs,
hard-link carry-over, atomic pointer commit, replay skip, run-id
binding, GC, compaction scheduled by the store) via
`VersionedBucketedState` —
demonstrating the state store is a framework, not a Q3 one-off.

Reference parity: the reference maintains exactly one aggregate this
way (the revenue sum inside its keyed aggregate,
`TPCHQuery3_StreamProcessor.java:462-520`, += on Insert, -= on
Delete); this generalizes it to arbitrary grouped integer measures.

At scale: the per-epoch shuffle is bounded by the number of DISTINCT
GROUPS IN THE BATCH (not state size, not corpus size); state grows by
touched groups per epoch, and the store's compaction folds it back to
one row per live group (`_fold`, declared with the table) once a bucket
holds too many files.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from query_processing_over_streaming_data_using_flink_spark.streaming.drain import (
    drain_file_source,
    run_face,
)
from query_processing_over_streaming_data_using_flink_spark.streaming.state_table import (
    VersionedBucketedState,
)


class IncrementalGroupedAgg:
    """foreachBatch handler maintaining one grouped signed-weight
    aggregate.

    Parameters
    ----------
    delta_fn : batch DataFrame -> DataFrame
        Aggregates a micro-batch to one row per touched group. The batch
        always carries a signed ``op`` weight: a batch without one is
        all inserts, and `process_batch` adds ``op = 1`` before calling
        it. Returns
        ``(group_cols..., measure_cols...)`` where every measure is an
        INTEGER signed sum (op-weighted, quantized) — integer adds keep
        the fold associative and bit-identical under any batching.
        Must include a net row-count measure if liveness filtering is
        wanted.
    schema : str
        State schema: ``bucket int, <group_cols>, <measure_cols>``.
    fold_exprs : optional {measure -> (colname -> Column)}
        Override the fold for a measure when plain ``F.sum`` is not the
        right monoid — e.g. modular fingerprint sums fold with
        ``pmod(sum(decimal), p)`` so the stored value stays a bounded
        residue across any number of epochs. The override MUST still be
        associative/commutative over the per-epoch delta rows (it is
        applied at both compaction and ``result``), and must map an
        all-cancelled group to integer 0 so liveness filtering works.
    """

    TABLE = "agg"

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        group_cols: list[str],
        measure_cols: list[str],
        schema: str,
        delta_fn: Callable[[DataFrame], DataFrame],
        fold_exprs: dict[str, Callable[[str], F.Column]] | None = None,
    ) -> None:
        self.spark = spark
        self.group_cols = list(group_cols)
        self.measure_cols = list(measure_cols)
        self.schema = schema
        self.delta_fn = delta_fn
        self.fold_exprs = dict(fold_exprs or {})
        self.state = VersionedBucketedState(
            spark, state_dir, {self.TABLE: schema}, folds={self.TABLE: self._fold}
        )

    def _measures(self) -> list[F.Column]:
        return [
            self.fold_exprs[m](m).alias(m)
            if m in self.fold_exprs
            else F.sum(m).alias(m)
            for m in self.measure_cols
        ]

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        if "op" not in batch.columns:
            batch = batch.withColumn("op", F.lit(1))
        keys = [F.col(c) for c in self.group_cols]
        # Keyed on the group columns (the bucket's source key): each of
        # the store's `write_partitions()` tasks owns whole buckets, so
        # the write emits at most one file per bucket.
        self.state.apply(
            epoch_id,
            lambda: self.state.stage(
                self.delta_fn(batch)
                .withColumn("bucket", self.state.bucket_of(*keys))
                .repartition(self.state.write_partitions(), *keys),
                self.TABLE,
            ),
        )

    def _fold(self, df: DataFrame) -> DataFrame:
        """Compaction fold: one row per group, groups whose every
        measure cancelled to zero dropped."""
        alive = functools.reduce(
            lambda a, b: a | b, [F.col(m) != 0 for m in self.measure_cols]
        )
        return df.groupBy("bucket", *self.group_cols).agg(*self._measures()).filter(alive)

    def result(self) -> DataFrame:
        """Current view: fold the state log per group. O(state) read,
        partial aggregation map-side per bucket."""
        return self.state.read(self.TABLE).groupBy(*self.group_cols).agg(*self._measures())


# ---------------------------------------------------------------------------
# Instantiation: continuous monthly revenue rollup over the lineitem
# changelog — the "continuous aggregate" a time-series store maintains.


def monthly_revenue_delta(batch: DataFrame) -> DataFrame:
    """Per-batch delta of the monthly lineitem revenue rollup: signed
    integer sums per ship-month (money quantized to fixed-point, the
    suite-wide discipline)."""
    return (
        batch.filter(F.col("relation") == "lineitem")
        .groupBy(
            F.to_date(F.date_trunc("month", F.col("shipdate"))).alias("ship_month")
        )
        .agg(
            F.sum("op").cast("long").alias("net_lines"),
            F.sum(
                F.col("op") * F.round(F.col("extendedprice") * 100, 0).cast("long")
            ).alias("gross_cents"),
            F.sum(
                F.col("op")
                * F.round(
                    F.col("extendedprice") * (F.lit(1.0) - F.col("discount")) * 10000, 0
                ).cast("long")
            ).alias("disc_cents"),
        )
    )


def monthly_revenue_rollup(spark: SparkSession, state_dir: str) -> IncrementalGroupedAgg:
    return IncrementalGroupedAgg(
        spark,
        state_dir,
        group_cols=["ship_month"],
        measure_cols=["net_lines", "gross_cents", "disc_cents"],
        schema=(
            "bucket int, ship_month date, net_lines long, "
            "gross_cents long, disc_cents long"
        ),
        delta_fn=monthly_revenue_delta,
    )


def present_monthly_revenue(folded: DataFrame) -> DataFrame:
    """De-quantize the folded rollup to the user-facing shape; drops
    months whose lines have all retracted."""
    return (
        folded.filter(F.col("net_lines") > 0)
        .select(
            "ship_month",
            "net_lines",
            (F.col("gross_cents") / 100.0).alias("gross_revenue"),
            (F.col("disc_cents") / 10000.0).alias("disc_revenue"),
        )
    )


def run_streaming_rollup(
    spark: SparkSession,
    changelog_dir: str,
    state_dir: str,
    files_per_trigger: int = 4,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Consume a parquet changelog directory as micro-batches and
    maintain the monthly rollup; returns the final view. Same driver
    and exactly-once contract as `run_streaming_q3` (atomic epoch
    commit + replay skip + checkpoint run binding)."""
    pipe = monthly_revenue_rollup(spark, state_dir)
    run_face(
        lambda h: drain_file_source(
            spark, changelog_dir, h, files_per_trigger, checkpoint_dir
        ),
        [pipe.state],
        pipe.process_batch,
        checkpoint_dir,
    )
    return present_monthly_revenue(pipe.result())
