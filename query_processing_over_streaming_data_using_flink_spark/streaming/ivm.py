"""Incremental view maintenance (IVM) of TPC-H Q3 over a changelog
stream — the Spark-native equivalent of the reference's stateful
streaming pipeline (`TPCHQuery3_StreamProcessor.java:183-265`).

The reference maintains per-key operator state (ValueState/MapState in
two CoProcessFunctions + a keyed aggregate) and pushes Insert/Delete
actions through it event-by-event; each arrival probes the opposite
side's CURRENT state, which already holds earlier arrivals
(`CustomerOrderJoinFunction`, `TPCHQuery3_StreamProcessor.java:390-449`).
That is the two-term delta rule of a join,

    Δ(A⋈B) = ΔA⋈B + A′⋈ΔB,    A′ = A + ΔA,

and here each micro-batch of events is applied with it, once per join:

    ΔCO = ΔC⋈O + C′⋈ΔO
    ΔR  = ΔCO⋈L′ + CO⋈ΔL

Every term is DELTA-DRIVEN: an equi-join of a (broadcast) micro-batch
delta against a state table on disk — O and CO as committed, C′ and L′
as committed ∪ this epoch's staged delta, i.e. as the epoch's commit
will leave them. The signed-weight algebra is commutative, so any
batching/ordering of events converges to the same state (unlike the
reference, which needs an ordered single-threaded source).

State discipline (LOG-STRUCTURED):

* Every state table is hash-bucketed on its join key —
  ``bucket = pmod(hash(key), buckets)``, the count the state store
  records with the state (`VersionedBucketedState.bucket_of`) — and stored as
  bucket-partitioned parquet. The intermediate view ``CO = C⋈O`` is
  itself a maintained state table (bucketed by orderkey, the key of its
  downstream join), so Δ(C⋈O⋈L) factorizes into the two joins above:
  ΔCO is computed once and spilled, and four delta joins run per
  epoch — higher-order IVM in the style of recursive delta compilation.
* Micro-batch deltas are spilled bucket-partitioned into the state
  store's staging area (`VersionedBucketedState.stage`; this module
  never touches a file itself) and read back with a trivially-true
  selective predicate: that is exactly the plan shape
  that makes Spark's dynamic partition pruning attach a
  ``dynamicpruningexpression`` to every state-table scan, so each delta
  join READS only the buckets the delta touches (asserted in
  tests/test_streaming.py). The broadcast hint is ADAPTIVE: each
  delta-vs-state join broadcasts whichever side's on-disk bytes are
  smaller (real file sizes, no Spark job) — the delta in trickle
  streaming (arming DPP), the state when a bulk micro-batch dwarfs a
  compact view; when neither fits the threshold both are left
  unhinted and AQE picks the join from runtime sizes.
* The COMMIT is append-only: the staged delta files themselves become
  the epoch's state write — the store's new version directory
  hard-links every previous file (metadata only, zero row data) and moves
  the staged part files in next to them. State tables are weight
  MULTISETS: the net weight of a key is the SUM over its rows, every
  delta join is linear in each side, so probing un-netted rows is
  exactly correct. Per-epoch cost: zero state-side shuffles, O(delta)
  data written. Compaction folds the log back to one net row per key
  and reclaims cancelled keys; the store runs it once a bucket holds
  too many files, `compact_state` on demand.
* Empty terms are skipped: a micro-batch carrying no customer events
  contributes nothing through the ΔC term, and a term whose state side
  is still empty (Δ⋈∅ = ∅, e.g. every committed-state probe of a
  stream's first epoch) contributes nothing either, so those joins are
  never built (zero-job probes: a listing of the staged delta, the
  on-disk bytes of the committed table).
* Every per-epoch write shuffles into the store's `write_partitions()`
  tasks — no more than the cores — keyed so that each task owns whole
  buckets (partition = bucket mod n; see `write_partitions`).
* Each epoch is one store transaction (`VersionedBucketedState.apply`)
  whose record times the phases `spill_l`, `spill_co`, `co`, `r_dco`,
  `r_dl`, `telemetry` and `commit`; `last_stats` adds the event count.
* Crash atomicity: a crash anywhere before the
  pointer flip leaves ``CURRENT`` on the last complete version — every
  reader sees a consistent all-tables snapshot; the half-built version
  dir is debris, removed on the retried commit, and the retry clears
  the crashed attempt's staged files before staging its own. A
  replayed epoch (``epoch_id <= committed``) runs nothing, so
  Structured Streaming's redelivery after failure is idempotent — and
  the state dir is BOUND to its stream: the checkpoint's run id is
  persisted in the ``CURRENT`` pointer and a mismatch hard-fails
  instead of silently replay-skipping a fresh stream's epochs. On a
  real cluster the same pipeline swaps the directory dance for
  Delta/Iceberg ``MERGE INTO`` with exactly-once `foreachBatch`
  semantics.

Every join key is hash-partitioned by Spark — no single-task bottleneck
like the reference's keyBy(0) TopN.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from query_processing_over_streaming_data_using_flink_spark.functions.scalar import ts_lit
from query_processing_over_streaming_data_using_flink_spark.streaming.drain import (
    drain_file_source,
    run_face,
)
from query_processing_over_streaming_data_using_flink_spark.streaming.state_table import (
    VersionedBucketedState,
)

__all__ = ["IncrementalQ3", "run_streaming_q3"]


def _selective(df: DataFrame, key: str) -> DataFrame:
    """A trivially-true comparison predicate: never filters a row, but
    counts as a 'selective' predicate for Spark's PartitionPruning rule,
    which is what arms dynamic partition pruning on the state scans."""
    return df.filter(F.col(key) >= F.lit(-(1 << 62)))


def _net(weight: str) -> Callable[[DataFrame], DataFrame]:
    """Compaction fold of a weight multiset: one row per bucket and key
    (every column but `bucket` and `weight`), cancelled keys dropped —
    this reclaims what the append-only commits leave behind."""

    def fold(df: DataFrame) -> DataFrame:
        keys = [c for c in df.columns if c not in ("bucket", weight)]
        return (
            df.groupBy("bucket", *keys)
            .agg(F.sum(weight).alias(weight))
            .filter(F.col(weight) != 0)
        )

    return fold


class IncrementalQ3:
    """foreachBatch handler maintaining Q3 state incrementally."""

    # A side whose ESTIMATED IN-MEMORY size (on-disk parquet bytes ×
    # PARQUET_EXPANSION — the hash relation built from snappy-compressed
    # columnar files is several× larger than the files) is below this
    # threshold is force-broadcast (arming DPP on the state probes);
    # above it the join is left to AQE. The default is cluster-
    # conservative — 256 MB estimated in-memory ≈ 64 MB on-disk — since
    # on a wide cluster broadcast cost is threshold × executors and an
    # under-estimated relation OOMs the executors (Spark's own
    # autoBroadcastJoinThreshold defaults to 10 MB for the same reason).
    # A broadcast delta turns every state probe into a pruned scan +
    # hash probe with NO state-side shuffle, which beats shuffling
    # millions of state rows until the delta itself is enormous
    # (measured at SF-1 local[32]: a 16 MB on-disk cutover flipped the
    # 4 bulk epochs to full-state shuffle joins, 47 s → 122 s) — so
    # single-node deployments with memory headroom should RAISE this
    # (bench.py passes 1 GiB ≈ 256 MB on-disk, the measured-good
    # local[32] value; sizing rule in OPERATIONS.md).
    broadcast_threshold_bytes: int = 256 << 20
    # Conservative decompression/expansion factor from on-disk snappy
    # parquet bytes to an in-memory BroadcastHashJoin relation.
    PARQUET_EXPANSION: int = 4

    # table -> schema. `co` is the
    # MAINTAINED INTERMEDIATE VIEW C⋈O (weight = w_c·w_o, bucketed by
    # orderkey — the key of its downstream join): maintaining the
    # two-way join as its own state table means ΔCO is computed once,
    # spilled, and both L-side terms probe it from disk — instead of
    # re-deriving ΔC⋈O + C′⋈ΔO per consumer and
    # keeping a second full orders projection (`o2`) just to chain
    # ΔL→orders→customer. CO is also ~5× smaller than orders (segment
    # and date filters applied), so the ΔL probe reads less state.
    _TABLES = {
        "c": "bucket int, c_custkey long, w_c long",
        "o": "bucket int, o_orderkey long, o_custkey long, o_orderdate timestamp_ntz, w_o long",
        "co": "bucket int, o_orderkey long, o_orderdate timestamp_ntz, w long",
        "l": "bucket int, l_orderkey long, linenumber int, w_cents long",
        "r": "bucket int, l_orderkey long, o_orderdate timestamp_ntz, cents long",
    }
    # Every table is a weight multiset: compaction nets its weight per key.
    _FOLDS = {
        "c": _net("w_c"),
        "o": _net("w_o"),
        "co": _net("w"),
        "l": _net("w_cents"),
        "r": _net("cents"),
    }

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        segment: str = "BUILDING",
        cutoff: str = "1995-03-15",
        broadcast_threshold_bytes: int | None = None,
    ) -> None:
        self.spark = spark
        if broadcast_threshold_bytes is not None:
            self.broadcast_threshold_bytes = broadcast_threshold_bytes
        # The last applied epoch's record (`state.last_epoch`) plus
        # its event count; populated by process_batch.
        self.last_stats: dict | None = None
        self.segment = segment
        self.cutoff = cutoff
        # All state mechanics (versioned dirs, hard-link carry-over,
        # atomic pointer commit, GC) live in the shared helper.
        self.state = VersionedBucketedState(spark, state_dir, self._TABLES, folds=self._FOLDS)

    def compact_state(self) -> None:
        """Fold every table to one net row per key now (the store also
        compacts by itself once a bucket holds too many files)."""
        self.state.compact()

    # -- delta extraction ----------------------------------------------------

    def _delta(self, name: str, key: str) -> DataFrame | None:
        """The staged delta of `name` behind a selective predicate on its
        key (None when the epoch staged no rows for it)."""
        df = self.state.staged(name)
        return None if df is None else _selective(df, key)

    def _spill_l(self, batch: DataFrame) -> DataFrame | None:
        """Spill the lineitem delta alone (split-lane spill): filter
        → NARROW pre-shuffle projection (guide §2.3 — the shuffle
        carries (l_orderkey, linenumber, w_cents), ~3 of the wire
        schema's 11 columns; w_cents is computed map-side BEFORE the
        exchange so two doubles collapse to one long) → repartition on
        the join key → one file per bucket, staged as the l table's
        part-set (so the append commit publishes these exact files
        as the epoch's state write). Runs in its own lane so the CO⋈ΔL
        maintenance term can start the moment the L delta lands,
        instead of waiting for the C/O spill (guide §2.6).

        The shuffle key is the JOIN KEY, not the derived bucket column,
        into n = `state.write_partitions()` partitions: Spark's
        HashPartitioning assigns partition id pmod(murmur3(key), n), and
        because n divides the store's bucket count that is
        `bucket_of(key)` mod n — each task owns whole buckets and the
        dynamic-partition write emits at most one file per bucket (one
        file per task on a state dir this host created, whose bucket
        count is sized to the cores). Repartitioning on the bucket
        column instead would hash bucket values (collisions: some tasks
        own 2-3 buckets, some none — the guide §2.5 synthetic-key skew),
        measured as a ~2× straggler tail on the spill stage. Every other
        keyed repartition in this class relies on the same identity.

        Filters are weight-preserving (SURVEY §7) and the deltas are
        deliberately NOT netted per batch: state tables are weight
        multisets and every delta join is linear in each side, so
        duplicate keys are exactly correct — and in a sliding-window
        changelog an insert and its delete are `window` positions apart
        (≫ one micro-batch), so a per-batch groupBy would cancel
        nothing while costing an extra shuffle. Netting happens where it
        reclaims rows: in compaction (`_net`).

        Returns the read-back behind a selective predicate — the shape
        that deterministically arms dynamic partition pruning on every
        downstream state join — or None when no lineitem row survived."""
        cut = ts_lit(self.cutoff)
        self.state.stage(
            batch.filter(
                (F.col("relation") == "lineitem") & (F.col("shipdate") > cut)
            )
            .select(
                F.col("orderkey").alias("l_orderkey"),
                "linenumber",
                (
                    F.col("op")
                    * F.round(
                        F.col("extendedprice") * (F.lit(1.0) - F.col("discount")) * 10000, 0
                    ).cast("long")
                ).alias("w_cents"),
            )
            .repartition(self.state.write_partitions(), "l_orderkey")
            .select(
                self.state.bucket_of(F.col("l_orderkey")).alias("bucket"),
                "l_orderkey",
                "linenumber",
                "w_cents",
            ),
            "l",
        )
        return self._delta("l", "l_orderkey")

    def _spill_co(self, batch: DataFrame) -> tuple[DataFrame | None, DataFrame | None]:
        """Spill the customer+orders deltas together (split-lane
        spill): both relations key on CUSTKEY for their state buckets,
        so one shuffle places both (keyed as in `_spill_l`) and one
        write stages both tables — the `table` column routes each row;
        the pre-shuffle projection is the narrow (table, k, o_orderkey,
        o_orderdate, w) instead of the 11-column padded wire row (guide
        §2.3). Per-relation columns the other relation never reads are
        NULL. Returns the selective read-backs (dc, do), each None when
        the batch has no rows of that relation."""
        cut = ts_lit(self.cutoff)
        keep = (
            (F.col("relation") == "customer") & (F.col("mktsegment") == self.segment)
        ) | ((F.col("relation") == "orders") & (F.col("orderdate") < cut))
        key = F.when(
            F.col("relation") == "customer", F.col("custkey")
        ).otherwise(F.col("o_custkey"))
        is_c = F.col("table") == "c"
        self.state.stage(
            batch.filter(keep)
            .select(
                F.col("relation").substr(1, 1).alias("table"),
                key.alias("k"),
                F.col("orderkey").alias("o_orderkey"),
                F.col("orderdate").alias("o_orderdate"),
                F.col("op").cast("long").alias("w"),
            )
            .repartition(self.state.write_partitions(), "k")
            .select(
                "table",
                self.state.bucket_of(F.col("k")).alias("bucket"),
                F.when(is_c, F.col("k")).alias("c_custkey"),
                F.when(is_c, F.col("w")).alias("w_c"),
                "o_orderkey",
                F.when(~is_c, F.col("k")).alias("o_custkey"),
                "o_orderdate",
                F.when(~is_c, F.col("w")).alias("w_o"),
            ),
            part="c_o",
        )
        return self._delta("c", "c_custkey"), self._delta("o", "o_orderkey")

    # -- the foreachBatch hook ----------------------------------------------

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        # A redelivered epoch applies nothing: its delta is already
        # committed, and applying it again would double the weights.
        record = self.state.apply(epoch_id, lambda: self._maintain(batch, epoch_id))
        self.spark.sparkContext.setJobDescription(None)
        if record is None:
            return
        # `events` counts the PREDICATE-SURVIVING rows (the split
        # applies Q3's segment/date filters before spilling), i.e. what
        # actually enters the pipeline — not the raw micro-batch size,
        # which would cost an extra action to know.
        rows = record["rows"]
        self.last_stats = {**record, "events": rows["c"] + rows["o"] + rows["l"]}

    def _maintain(self, batch: DataFrame, epoch_id: int) -> None:
        """Stage the epoch's delta of every table: the two spill lanes
        and the four delta joins they feed."""
        sc = self.spark.sparkContext

        # Adaptive physical strategy, sized from REAL on-disk bytes of
        # both sides (staged delta files + committed state files; zero
        # Spark jobs): each delta-vs-state join broadcasts whichever
        # side is SMALLER, provided it fits the threshold. Broadcasting
        # the delta arms dynamic partition pruning on the state scan
        # (trickle streaming: read only touched buckets); broadcasting
        # the state is right when a bulk micro-batch delta dwarfs a
        # compact state table (e.g. a 3M-row ΔL probing a 600k-row CO
        # view — hash-building the delta would cost more than scanning
        # the state). When neither side fits, both are left unhinted
        # and AQE picks the join from runtime sizes — the escape hatch
        # a 1000-executor cluster needs when a micro-batch is a whole
        # partition backfill.
        # The threshold is an estimated-in-memory bound; the probes
        # measure compressed on-disk bytes, so divide out the expansion.
        thr = self.broadcast_threshold_bytes // self.PARQUET_EXPANSION

        def sides(
            delta_df: DataFrame, dbytes: int, state_df: DataFrame, sbytes: int
        ) -> tuple[DataFrame, DataFrame]:
            """(delta, state) with a broadcast hint on the smaller side
            that fits the threshold (ties go to the delta: it arms DPP)."""
            if dbytes < thr and dbytes <= sbytes:
                return F.broadcast(delta_df), state_df
            if sbytes < thr and sbytes < dbytes:
                return delta_df, F.broadcast(state_df)
            return delta_df, state_df

        o_old = self.state.read("o")      # bucketed by o_custkey
        co_old = self.state.read("co")    # maintained C⋈O view, bucketed by o_orderkey
        # Committed on-disk bytes of the old state (zero Spark jobs):
        # they size the broadcast side, and 0 means the table holds no
        # rows, so every term probing it is empty (Δ⋈∅ = ∅) and skipped.
        old_bytes = {n: self.state.bytes(n) for n in ("c", "o", "co", "l")}
        nparts = self.state.write_partitions()

        def primed(name: str) -> tuple[DataFrame, int]:
            """X′: `name` as this epoch's commit will leave it (committed
            ∪ staged), and its on-disk bytes (0: no rows)."""
            df, delta = self.state.read(name), self.state.staged(name)
            if delta is not None:
                df = df.unionByName(delta)
            return df, old_bytes[name] + self.state.staged_bytes(name)

        REKEY = self.state.bucket_of(F.col("o_orderkey")).alias("bucket")

        # Lane handshake (split-lane spill, guide §2.6): the CO lane
        # reads L′ only once the L lane has staged ΔL — by which time
        # the (faster) L spill has long landed.
        l_spilled = threading.Event()

        def fold_spill_r(part: DataFrame, part_set: str) -> None:
            # The r delta lands as TWO independently-staged part-sets
            # (r_dco, r_dl) so the CO⋈ΔL term — which depends only on
            # the OLD co state and the ΔL spill — can run concurrently
            # with the ΔCO spill and the ΔCO⋈L′ term (guide §2.6:
            # overlap independent jobs; the state is a weight multiset,
            # so two appended part-sets sum to exactly what one folded
            # write would; cross-part netting happens in compaction).
            # Pre-fold the delta before it joins the result log (many
            # lineitems per order collapse to one row per group). The
            # repartition keys the JOIN KEY, so partition = bucket mod n
            # and each task owns whole buckets (see _spill_l) — the
            # grouped aggregate reuses that exchange (partitioning on a
            # subset of the grouping keys satisfies its distribution)
            # and the write emits at most one file per bucket instead of
            # the old task×bucket spray (~200 files/epoch at SF-1).
            self.state.stage(
                part.repartition(nparts, "l_orderkey")
                .groupBy("bucket", "l_orderkey", "o_orderdate")
                .agg(F.sum("cents").alias("cents")),
                "r",
                part=part_set,
            )

        def maintain_co_chain(dc: DataFrame | None, do: DataFrame | None) -> None:
            """ΔCO = ΔC⋈O + C′⋈ΔO, staged once as the co table's epoch
            delta, followed by the ΔCO-driven r term ΔCO⋈L′ — the
            dependent chain, one thread."""
            with self.state.phase("co"):
                sc.setJobDescription(f"ivm epoch {epoch_id}: delta-CO join+spill")
                co_parts: list[DataFrame] = []
                if dc is not None and old_bytes["o"]:
                    # ΔC ⋈ O
                    dc_b = dc.select(F.col("bucket"), F.col("c_custkey"), F.col("w_c"))
                    dc_h, o_h = sides(dc_b, self.state.staged_bytes("c"), o_old, old_bytes["o"])
                    co_parts.append(
                        o_h.join(
                            dc_h,
                            (o_old["bucket"] == dc_b["bucket"]) & (F.col("o_custkey") == F.col("c_custkey")),
                        )
                        .select(REKEY, "o_orderkey", "o_orderdate", (F.col("w_c") * F.col("w_o")).alias("w"))
                    )
                c_new, c_bytes = primed("c")
                if do is not None and c_bytes:
                    # C′ ⋈ ΔO — C′ already holds ΔC, so this term also
                    # joins the epoch's new customers to its new orders.
                    # The segment-filtered customer state is often the
                    # smaller side here; `sides` picks per-epoch.
                    do_c = do.select(
                        F.col("bucket").alias("b_c"), "o_orderkey", "o_custkey", "o_orderdate", "w_o"
                    )
                    do_h, c_h = sides(do_c, self.state.staged_bytes("o"), c_new, c_bytes)
                    co_parts.append(
                        c_h.join(
                            do_h,
                            (F.col("bucket") == F.col("b_c")) & (F.col("c_custkey") == F.col("o_custkey")),
                        )
                        .select(REKEY, "o_orderkey", "o_orderdate", (F.col("w_c") * F.col("w_o")).alias("w"))
                    )
                if co_parts:
                    dco_all = co_parts[0]
                    for part in co_parts[1:]:
                        dco_all = dco_all.unionByName(part)
                    # Keyed on o_orderkey → partition = bucket mod n
                    # (whole buckets per task, at most one file per
                    # bucket, no hash-collision stragglers — see _spill_l).
                    self.state.stage(dco_all.repartition(nparts, "o_orderkey"), "co")
            # With no ΔCO rows there is no ΔCO-driven r term.
            dco = self._delta("co", "o_orderkey")
            if dco is None:
                return
            with self.state.phase("r_dco"):
                sc.setJobDescription(f"ivm epoch {epoch_id}: delta-R (dCO.L' term) join+spill")
                # L′ holds the L lane's ΔL; the ΔCO spill above takes
                # longer than the L spill, so this wait is effectively free.
                l_spilled.wait()
                l_new, l_bytes = primed("l")
                if not l_bytes:
                    return
                # ΔCO ⋈ L′
                dco_h, l_h = sides(dco, self.state.staged_bytes("co"), l_new, l_bytes)
                fold_spill_r(
                    l_h.join(
                        dco_h,
                        (l_new["bucket"] == dco["bucket"]) & (F.col("l_orderkey") == F.col("o_orderkey")),
                    )
                    .select(
                        l_new["bucket"].alias("bucket"),
                        "l_orderkey",
                        "o_orderdate",
                        (F.col("w") * F.col("w_cents")).alias("cents"),
                    ),
                    "r_dco",
                )

        def maintain_r_dl(dl: DataFrame | None) -> None:
            """CO ⋈ ΔL — probe the committed view with the lineitem
            delta; depends only on OLD state + the ΔL spill, so it runs
            concurrently with the whole CO chain and starts the moment
            the L spill lands — before the C/O spill has even finished.
            In a bulk epoch ΔL is millions of rows while the filtered
            CO view stays compact — `sides` flips the broadcast to the
            view."""
            if dl is None or not old_bytes["co"]:
                return
            with self.state.phase("r_dl"):
                sc.setJobDescription(f"ivm epoch {epoch_id}: delta-R (CO.dL term) join+spill")
                dl_b = dl.select(F.col("bucket").alias("b_l"), "l_orderkey", "w_cents")
                dl_h, co_h = sides(dl_b, self.state.staged_bytes("l"), co_old, old_bytes["co"])
                fold_spill_r(
                    co_h.join(
                        dl_h,
                        (co_old["bucket"] == F.col("b_l")) & (F.col("o_orderkey") == F.col("l_orderkey")),
                    )
                    .select(
                        F.col("b_l").alias("bucket"), "l_orderkey", "o_orderdate",
                        (F.col("w") * F.col("w_cents")).alias("cents"),
                    ),
                    "r_dl",
                )

        # Two lanes (guide §2.6): each relation's spill feeds only its
        # own maintenance chain, so the spills themselves overlap too —
        # lane L (ΔL spill → CO⋈ΔL probe) runs entirely inside the
        # shadow of lane CO's critical path (ΔC/ΔO spill → ΔCO spill →
        # ΔCO⋈L′); no maintenance waits on a whole-batch spill (numbers
        # in OPTIMIZATION_r15.md).
        def lane_l() -> None:
            with self.state.phase("spill_l"):
                sc.setJobDescription(f"ivm epoch {epoch_id}: delta-L spill")
                try:
                    dl = self._spill_l(batch)
                finally:
                    l_spilled.set()  # never deadlock lane CO on a failed spill
            maintain_r_dl(dl)

        def lane_co() -> None:
            with self.state.phase("spill_co"):
                sc.setJobDescription(f"ivm epoch {epoch_id}: delta-C/O spill")
                dc, do = self._spill_co(batch)
            maintain_co_chain(dc, do)

        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [pool.submit(lane_l), pool.submit(lane_co)]
            for f in futs:
                f.result()

    # -- result --------------------------------------------------------------

    def top_n(self, n: int = 20) -> DataFrame:
        """Current Top-N — the reference's periodic TopNFunction output
        (`TPCHQuery3_StreamProcessor.java:983-1062`), computed correctly
        (latest aggregate per group, no stale entries — SURVEY §2.5).
        Folds the result log to net revenue per group (partial
        aggregation is map-side per bucket), then
        TakeOrderedAndProject: per-partition bounded heaps, O(n) driver
        memory."""
        r = self.state.read("r")
        return (
            r.groupBy("l_orderkey", "o_orderdate")
            .agg(F.sum("cents").alias("cents"))
            .filter(F.col("cents") > 0)
            .select(
                "l_orderkey",
                (F.col("cents") / F.lit(10000.0)).alias("revenue"),
                "o_orderdate",
                F.lit(0).alias("o_shippriority"),
            )
            .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
            .limit(n)
        )


def run_streaming_q3(
    spark: SparkSession,
    changelog_dir: str,
    state_dir: str,
    files_per_trigger: int = 4,
    top_n: int = 20,
    on_progress=None,
    checkpoint_dir: str | None = None,
    compact_every: int | None = None,
    broadcast_threshold_bytes: int | None = None,
) -> DataFrame:
    """Consume a parquet-directory changelog as a Structured Streaming
    source (micro-batches of whole files, like the reference's
    file-driven UnifiedStreamSource,
    `TPCHQuery3_StreamProcessor.java:268-344`) and maintain Q3 through
    the shared stream driver (`drain.run_face`); returns the final
    Top-N.

    `on_progress(epoch_id, top_df, stats)` mirrors the periodic Top-N
    emission (console/WebSocket sink in the reference); `stats` is
    `IncrementalQ3.last_stats`: the store's record of the last applied
    epoch (`state.last_epoch`: epoch, staged rows per table, phase
    seconds, whether it compacted) plus `events`, the rows that passed
    Q3's filters (a replayed epoch applies nothing and leaves it
    unchanged). Pass
    e.g. ``lambda e, df, stats: df.show()``.

    With `checkpoint_dir`, a restart resumes from the last acknowledged
    batch with stable epoch ids; together with the state store's epoch
    transaction (atomic commit, replay skip) this gives exactly-once
    state maintenance across crashes. `run_face` binds the checkpoint's
    stream UUID to the state dir: pointing old state at a NEW
    checkpoint (whose batch ids restart at 0) raises `RuntimeError`
    instead of silently dropping every batch — wipe state and
    checkpoint together.

    The state store compacts by itself once a commit leaves too many
    files in a bucket, which bounds read amplification on long-running
    streams. `compact_every=N` adds a fixed schedule on top: it folds
    the state back to net rows after every N applied epochs.
    """
    pipe = IncrementalQ3(
        spark, state_dir, broadcast_threshold_bytes=broadcast_threshold_bytes
    )

    def progress(epoch_id: int) -> None:
        on_progress(epoch_id, pipe.top_n(top_n), pipe.last_stats)

    run_face(
        lambda h: drain_file_source(
            spark, changelog_dir, h, files_per_trigger, checkpoint_dir
        ),
        [pipe.state],
        pipe.process_batch,
        checkpoint_dir,
        maintain=pipe.compact_state,
        maintain_every=compact_every,
        on_epoch=None if on_progress is None else progress,
    )
    return pipe.top_n(top_n)
