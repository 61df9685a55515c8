"""Incrementally-maintained IVF-flat ANN index — vector search over an
UNBOUNDED embedding stream, built on the same crash-atomic versioned
bucketed state store as the Q3 IVM and the streaming near-dedup
(`streaming/state_table.py`).

No reference counterpart (the reference's stateful ops implement Q3 —
SURVEY.md §2.3/2.4); this is the driver's similarity-search mandate
(§2.11) made streaming-native: a training-data pipeline ingests
embeddings continuously, and the index must absorb them without
rebuilding — FAISS `add()` semantics, re-expressed relationally.

Design:
* centroids are FROZEN between maintenance passes (caller-provided —
  e.g. `operators/similarity.py:ivf_centroids` over a bootstrap corpus
  — or trained on the first batch): the standard IVF discipline,
  assignment stays deterministic between refreshes. A DRIFTING stream
  re-clusters via `refresh_centroids()` — retrain on everything
  ingested, re-assign the inverted lists as an atomic
  `compact(transforms)` version flip (recluster-as-compaction);
* each micro-batch assigns its vectors to their nearest centroid (one
  broadcast join against ≤ `cells` centroid rows — no corpus shuffle)
  and APPENDS them to the inverted lists: state table `inv` is
  bucketed BY CELL, so the append commit writes only the delta (one
  file per touched cell: it is hashed on `cell` before the write)
  and a search's cell probes prune to `nprobe` bucket directories;
* vectors are immutable (no retraction), so the tables declare no
  fold — per-epoch cost is exactly the new vectors, and the store's
  compaction only merges a cell's files once there are too many;
* replayed epochs are skipped via the store's committed-epoch pointer:
  exactly-once index maintenance under foreachBatch redelivery.

Search equals the batch `knn_ivf` over the union of all ingested
batches whenever both use the same centroids (equivalence-tested) —
the stream-batch convergence criterion applied to an index structure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from query_processing_over_streaming_data_using_flink_spark.operators import similarity as sim
from query_processing_over_streaming_data_using_flink_spark.streaming.drain import (
    drain_file_source,
    run_face,
)
from query_processing_over_streaming_data_using_flink_spark.streaming.state_table import (
    VersionedBucketedState,
    write_partitions,
)


def run_streaming_ann_index(
    spark: SparkSession,
    vectors_dir: str,
    state_dir: str,
    files_per_trigger: int = 4,
    centroids: DataFrame | None = None,
    nprobe: int = sim.IVF_NPROBE,
    cells: int = sim.IVF_CELLS,
    refresh_every: int | None = None,
    checkpoint_dir: str | None = None,
) -> "IncrementalIVFIndex":
    """Operational wrapper (the `run_streaming_q3` counterpart for the
    ANN index): consume a parquet directory of (vec_id, embedding) rows
    as a file stream and maintain the IVF index, with the scheduled
    recluster in the loop — `refresh_every=N` retrains + re-assigns
    after every N applied epochs (`refresh_centroids`), the maintenance
    cadence a drifting crawl stream needs. With `checkpoint_dir`,
    restarts resume exactly-once (stream run bound to the state dir,
    replayed epochs skipped). Returns the live index handle."""
    idx = IncrementalIVFIndex(spark, state_dir, centroids, nprobe, cells)
    run_face(
        lambda h: drain_file_source(
            spark, vectors_dir, h, files_per_trigger, checkpoint_dir
        ),
        [idx.state],
        idx.process_batch,
        checkpoint_dir,
        maintain=idx.refresh_centroids,
        maintain_every=refresh_every,
    )
    return idx


class IncrementalIVFIndex:
    """foreachBatch handler maintaining IVF inverted lists across
    micro-batches. `centroids` (cell, cvec array<double>) freezes the
    coarse quantizer at creation; omit it to train on the first batch."""

    _TABLES = {
        "inv": "bucket int, n_id long, n_vec array<double>, cell int",
        "cents": "bucket int, cell int, dim int, v double",
    }

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        centroids: DataFrame | None = None,
        nprobe: int = sim.IVF_NPROBE,
        cells: int = sim.IVF_CELLS,
    ) -> None:
        self.spark = spark
        self.nprobe = nprobe
        self.cells = cells
        self._bootstrap_cents = centroids
        self.state = VersionedBucketedState(spark, state_dir, self._TABLES)

    # -- centroids -----------------------------------------------------------

    def _cents_long(self, cents: DataFrame) -> DataFrame:
        """(cell, cvec) → the store's long format (bucket, cell, dim, v)."""
        return cents.select(
            F.lit(0).alias("bucket"),
            # ivf_centroids emits cell as long (vec_id % cells); the
            # state schema pins the narrower int.
            F.col("cell").cast("int").alias("cell"),
            F.posexplode("cvec").alias("dim", "v"),
        )

    def centroids(self) -> DataFrame:
        """(cell, cvec) reassembled from state — the frozen quantizer."""
        c = self.state.read("cents")
        return c.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "v"))), lambda t: t["v"]
            ).alias("cvec")
        )

    # -- ingestion -----------------------------------------------------------

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        """Ingest one micro-batch of (vec_id, embedding) rows."""
        def ingest() -> None:
            first_epoch = self.state.committed_epoch() < 0
            if first_epoch:
                cents = (
                    self._bootstrap_cents
                    if self._bootstrap_cents is not None
                    else sim.ivf_centroids(batch, cells=self.cells)
                )
                # KB-sized quantizer tables: one file, not one per partition.
                self.state.stage(self._cents_long(cents).repartition(1), "cents")
            else:
                cents = self.centroids()
            corpus = batch.select(
                F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("vec")
            )
            assigned = sim._nearest_cells(corpus, cents, 1)
            delta = assigned.select(
                F.col("cell").cast("int").alias("bucket"),
                F.col("id").alias("n_id"),
                F.col("vec").alias("n_vec"),
                F.col("cell").cast("int").alias("cell"),
            )
            self.state.stage(delta.repartition(write_partitions(self.spark), "cell"), "inv")

        # Append-mode commit: inverted lists only ever GROW — the new
        # vectors' part files land next to the hard-linked old ones.
        self.state.apply(epoch_id, ingest)

    # -- maintenance ---------------------------------------------------------

    def refresh_centroids(self, refine: int = sim.IVF_REFINE) -> None:
        """Scheduled recluster — the maintenance pass a DRIFTING stream
        needs: frozen centroids trained on the bootstrap distribution
        scatter later out-of-distribution vectors across cells on
        noise, capping recall at ~nprobe/cells for drifted queries.
        This retrains the quantizer on EVERYTHING ingested so far
        (`similarity.ivf_centroids` — same deterministic seeding and
        Lloyd rounds as the batch index, so stream==batch `knn_ivf`
        equivalence holds again immediately after the refresh) and
        re-assigns every inverted list as a `compact(transforms)` pass
        on the versioned store: new cell layout written next to the
        old, one atomic pointer flip, in-flight readers keep resolving
        the previous version. Cost is one corpus pass per Lloyd round
        plus one corpus rewrite — run it like any compaction (hourly /
        daily / on a drift monitor's signal, cf. OPERATIONS.md)."""
        inv = self.state.read("inv")
        corpus = inv.select(
            F.col("n_id").alias("vec_id"), F.col("n_vec").alias("embedding")
        )
        # Pin the retrained quantizer: the transforms below run inside
        # the compaction (whose writes must not re-trigger training),
        # and the table is KB-sized (≤ cells × d rows).
        cents = sim.ivf_centroids(corpus, cells=self.cells, refine=refine).localCheckpoint(
            eager=True
        )

        def reassign(inv_df: DataFrame) -> DataFrame:
            assigned = sim._nearest_cells(
                inv_df.select(F.col("n_id").alias("id"), F.col("n_vec").alias("vec")),
                cents,
                1,
            )
            return assigned.select(
                F.col("cell").cast("int").alias("bucket"),
                F.col("id").alias("n_id"),
                F.col("vec").alias("n_vec"),
                F.col("cell").cast("int").alias("cell"),
            )

        self.state.compact(
            {"inv": reassign, "cents": lambda _old: self._cents_long(cents)}
        )

    # -- search --------------------------------------------------------------

    def search(
        self, queries: DataFrame, k: int = 5, allowed: DataFrame | None = None
    ) -> DataFrame:
        """Top-k cosine neighbors of (vec_id, embedding) query rows over
        everything ingested so far — same output shape and semantics as
        the batch `knn_ivf` (q_id, n_id, rank, sim). The probe join is
        on `cell` == the state's bucket column, so only the probed
        cells' directories are read. `allowed` (one `id` column)
        restricts candidates to ids passing a metadata predicate —
        same one-index-many-filters semantics as the batch
        `knn_ivf_filtered`, applied as a semi-join on the lists."""
        cents = self.centroids()
        inv = self.state.read("inv")
        if allowed is not None:
            inv = inv.join(
                allowed.select(F.col("id").alias("n_id")), "n_id", "left_semi"
            )
        probes = sim._nearest_cells(
            queries.select(
                F.col("vec_id").alias("id"),
                F.col("embedding").cast("array<double>").alias("vec"),
            ),
            cents,
            self.nprobe,
        ).select(
            F.col("id").alias("q_id"),
            F.col("vec").alias("q_vec"),
            "cell",
            # bucket == cell by construction; joining on the partition
            # column lets the scan prune to the probed cells' dirs.
            F.col("cell").cast("int").alias("bucket"),
        )
        scored = (
            inv.withColumn("n_n", sim.l2_norm(F.col("n_vec")))
            .join(
                F.broadcast(probes.withColumn("q_n", sim.l2_norm(F.col("q_vec")))),
                ["bucket", "cell"],
            )
            .filter(F.col("q_id") != F.col("n_id"))
            .withColumn(
                "sim",
                sim.cosine_norm(
                    F.col("q_vec"), F.col("n_vec"), F.col("q_n"), F.col("n_n")
                ),
            )
        )
        w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "n_id", "rank", F.round("sim", 6).alias("sim"))
        )


class IncrementalIVFPQIndex:
    """Streaming IVF-PQ — the memory-bound variant of
    `IncrementalIVFIndex`: the inverted lists hold the PQ CODES of each
    ingested vector (`m` small ints ≈ 8 B at PQ8×8), never the raw
    embedding, so a 10^9-vector stream's index state stays ~250× smaller
    than the flat lists and the per-epoch append writes bytes per
    vector. Searches ADC-score the probed cells exactly like the batch
    `operators/similarity.py:knn_ivfpq` (equivalence-tested when both
    share training data).

    Both quantizers (IVF centroids + PQ codebooks) are FROZEN at
    creation — caller-provided from a bootstrap corpus, or trained on
    the first batch. Honest boundary vs the flat index: the state holds
    codes only, so in-place re-encoding is impossible — drift handling
    is `rebuild_from_source(corpus)`: retrain both quantizers on the
    raw upstream corpus (the table the stream also feeds), re-encode
    everything, and swap atomically as one `compact()` version flip —
    the standard "retrain offline, swap the index" IVF-PQ operation,
    with the same continue-ingesting / replay-no-op guarantees as the
    flat index's `refresh_centroids`. A deployment that needs
    source-free recluster keeps the flat variant; the two share the
    store layout.
    """

    _TABLES = {
        # bucket == cell: probes prune to nprobe directories; rows are
        # (vector, subspace) pairs — m rows of 3 small ints per vector.
        "inv": "bucket int, n_id long, cell int, s int, code int",
        "cents": "bucket int, cell int, dim int, v double",
        "books": "bucket int, s int, code int, sdim int, v double",
    }

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        centroids: DataFrame | None = None,
        books: DataFrame | None = None,
        nprobe: int = sim.IVF_NPROBE,
        cells: int = sim.IVF_CELLS,
        m: int = sim.PQ_M,
    ) -> None:
        self.spark = spark
        self.nprobe = nprobe
        self.cells = cells
        self.m = m
        self._bootstrap_cents = centroids
        self._bootstrap_books = books
        self.state = VersionedBucketedState(spark, state_dir, self._TABLES)

    # -- quantizers ----------------------------------------------------------

    def _cents_long(self, cents: DataFrame) -> DataFrame:
        return cents.select(
            F.lit(0).alias("bucket"),
            F.col("cell").cast("int").alias("cell"),
            F.posexplode("cvec").alias("dim", "v"),
        )

    def _books_long(self, books: DataFrame) -> DataFrame:
        return books.select(
            F.lit(0).alias("bucket"),
            F.col("s").cast("int").alias("s"),
            F.col("code").cast("int").alias("code"),
            F.posexplode("cvec").alias("sdim", "v"),
        )

    def centroids(self) -> DataFrame:
        c = self.state.read("cents")
        return c.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "v"))), lambda t: t["v"]
            ).alias("cvec")
        )

    def books(self) -> DataFrame:
        b = self.state.read("books")
        return b.groupBy("s", "code").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sdim", "v"))), lambda t: t["v"]
            ).alias("cvec")
        )

    # -- ingestion -----------------------------------------------------------

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        """Ingest one micro-batch of (vec_id, embedding) rows: assign
        each vector's cell under the frozen coarse quantizer, encode it
        to codes under the frozen codebooks, append the codes to the
        cell's inverted list. The raw embedding is read once, here, and
        never stored."""
        def ingest() -> None:
            first_epoch = self.state.committed_epoch() < 0
            if first_epoch:
                cents = (
                    self._bootstrap_cents
                    if self._bootstrap_cents is not None
                    else sim.ivf_centroids(batch, cells=self.cells)
                )
                books = (
                    self._bootstrap_books
                    if self._bootstrap_books is not None
                    else sim.pq_codebooks(batch, self.m)
                )
                # KB-sized quantizer tables: one file, not one per partition.
                self.state.stage(self._cents_long(cents).repartition(1), "cents")
                self.state.stage(self._books_long(books).repartition(1), "books")
            else:
                cents = self.centroids()
                books = self.books()
            corpus = batch.select(
                F.col("vec_id").alias("id"),
                F.col("embedding").cast("array<double>").alias("vec"),
            )
            assigned = sim._nearest_cells(corpus, cents, 1).select(F.col("id"), "cell")
            delta = (
                assigned.join(sim.pq_encode(batch, books, self.m), "id")
                .select(
                    F.col("cell").cast("int").alias("bucket"),
                    F.col("id").alias("n_id"),
                    F.col("cell").cast("int").alias("cell"),
                    F.col("s").cast("int").alias("s"),
                    F.col("code").cast("int").alias("code"),
                )
            )
            self.state.stage(delta.repartition(write_partitions(self.spark), "cell"), "inv")

        self.state.apply(epoch_id, ingest)

    # -- maintenance ---------------------------------------------------------

    def rebuild_from_source(
        self, corpus: DataFrame, refine: int = sim.IVF_REFINE
    ) -> None:
        """Offline retrain + atomic swap — the drift-maintenance pass
        for a codes-only index (mirrors the flat index's
        `refresh_centroids`, which re-encoding-from-state cannot serve
        here because the state holds no raw vectors): the caller
        supplies the raw (vec_id, embedding) corpus — the upstream
        table the stream also feeds, covering everything ingested —
        and this retrains BOTH quantizers on it (same deterministic
        `ivf_centroids` / `pq_codebooks` as the batch index, so
        stream==batch `knn_ivfpq` equivalence holds again immediately),
        re-encodes every vector, and flips the store version as one
        atomic `compact()`: in-flight readers keep resolving the old
        version, ingestion continues on the new one (epoch pointer
        preserved), and redelivered epochs stay no-ops."""
        cents = sim.ivf_centroids(
            corpus, cells=self.cells, refine=refine
        ).localCheckpoint(eager=True)
        books = sim.pq_codebooks(corpus, self.m).localCheckpoint(eager=True)
        src = corpus.select(
            F.col("vec_id").alias("id"),
            F.col("embedding").cast("array<double>").alias("vec"),
        )
        codes = (
            sim._nearest_cells(src, cents, 1)
            .select("id", "cell")
            .join(sim.pq_encode(corpus, books, self.m), "id")
            .select(
                F.col("cell").cast("int").alias("bucket"),
                F.col("id").alias("n_id"),
                F.col("cell").cast("int").alias("cell"),
                F.col("s").cast("int").alias("s"),
                F.col("code").cast("int").alias("code"),
            )
        )
        self.state.compact(
            {
                "inv": lambda _old: codes,
                "cents": lambda _old: self._cents_long(cents),
                "books": lambda _old: self._books_long(books),
            }
        )

    # -- search --------------------------------------------------------------

    def search(
        self,
        queries: DataFrame,
        k: int = 5,
        allowed: DataFrame | None = None,
        rerank_from: DataFrame | None = None,
        rerank: int = sim.IVFPQ_RERANK,
    ) -> DataFrame:
        """Top-k by ADC over the probed cells' code lists — identical
        scoring (fixed-subspace-order fold, approximate inner product)
        and output shape to the batch `knn_ivfpq`: (q_id, n_id, rank,
        score). Per query the LUT is m·K dot products against the
        broadcast codebooks; the scan touches only code rows in the
        probed cells' bucket directories. `allowed` (one `id` column)
        restricts candidates by metadata predicate — semi-join on the
        code rows, one index serving many filters. `rerank_from` (a raw
        (vec_id, embedding) source — the upstream corpus) switches on
        IVFPQ+R refinement: the top `rerank` ADC candidates per query
        are re-scored with the EXACT inner product fetched from the
        source by broadcasting the R·q candidate list (the batch
        `knn_ivfpq_rerank` composition, against the live index)."""
        cents = self.centroids()
        books = self.books()
        inv = self.state.read("inv")
        if allowed is not None:
            inv = inv.join(
                allowed.select(F.col("id").alias("n_id")), "n_id", "left_semi"
            )
        probes = sim._nearest_cells(
            queries.select(
                F.col("vec_id").alias("id"),
                F.col("embedding").cast("array<double>").alias("vec"),
            ),
            cents,
            self.nprobe,
        ).select(
            F.col("id").alias("q_id"),
            "cell",
            F.col("cell").cast("int").alias("bucket"),
        )
        lut = sim._pq_subvectors(queries, self.m).join(F.broadcast(books), "s").select(
            F.col("id").alias("q_id"),
            "s",
            "code",
            sim.dot(F.col("sub"), F.col("cvec")).alias("part"),
        )
        scored = (
            inv.join(F.broadcast(probes), ["bucket", "cell"])
            .filter(F.col("q_id") != F.col("n_id"))
            .join(F.broadcast(lut), ["q_id", "s", "code"])
            .groupBy("q_id", "n_id")
            .agg(
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("s", "part"))),
                        lambda t: t["part"],
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("score")
            )
        )
        w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("n_id"))
        ranked = scored.withColumn("rank", F.row_number().over(w))
        if rerank_from is None:
            return ranked.filter(F.col("rank") <= k).select(
                "q_id", "n_id", "rank", F.round("score", 6).alias("score")
            )
        cand = ranked.filter(F.col("rank") <= rerank).select("q_id", "n_id")
        raw = rerank_from.select(
            F.col("vec_id").alias("n_id"),
            F.col("embedding").cast("array<double>").alias("n_vec"),
        )
        qraw = queries.select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").cast("array<double>").alias("q_vec"),
        )
        rescored = (
            raw.join(F.broadcast(cand), "n_id")
            .join(F.broadcast(qraw), "q_id")
            .withColumn("score", sim.dot(F.col("q_vec"), F.col("n_vec")))
        )
        w2 = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("n_id"))
        return (
            rescored.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("q_id", "n_id", "rank", F.round("score", 6).alias("score"))
        )
