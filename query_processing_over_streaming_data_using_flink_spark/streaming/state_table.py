"""Versioned bucketed state tables for foreachBatch pipelines — the
state discipline shared by the Q3 IVM (`streaming/ivm.py`) and every
other stateful face. This module is the only code that creates, moves,
links or removes anything under a state dir: faces read and stage
DataFrames, the store owns the files.

Layout::

    state_dir/CURRENT                       pointer (JSON, fields below)
    state_dir/v<epoch>[c...]/<table>/bucket=N/part-*.parquet
    state_dir/_staged/<part>/table=<table>/bucket=N/part-*.parquet
    state_dir/_staged/_output/part-*.parquet
    state_dir/_outputs/epoch=<epoch>/part-*.parquet

Contract:

* The pointer `CURRENT` holds `epoch` (the last committed epoch),
  `version` (the live version dir), `buckets` and, once bound,
  `run_id` (see `check_run`). `buckets` is the tables' bucket count:
  a new state dir takes the largest divisor of NUM_BUCKETS (32) not
  above the cores, every commit records it, a reopen reads it back,
  and a pointer without the field reads 32. Faces bucket a key with
  `bucket_of(key)` = ``pmod(hash(key), buckets)`` and size a write's
  shuffle with `write_partitions()`, so one task writes whole buckets.
* `apply(epoch, body)` is the one epoch transaction. A redelivered
  epoch (`epoch <= committed`) returns None and runs nothing. Otherwise
  it clears `_staged/` and any output past the committed epoch, so a
  crashed attempt's files are never published; runs `body()`, which
  stages the epoch's writes and may time named phases with
  `phase(name)`; sizes each table's staged delta from parquet footers
  (phase `telemetry`); commits (phase `commit`); and returns the
  epoch's record ``{"epoch", "rows": {table: n}, "phase_sec",
  "compacted"}``, also kept as `last_epoch`. A body that raises
  commits nothing.
* `stage(df, table, part=...)` is one Spark write of `df`, partitioned
  by (table, bucket), into its own part-set. `df` carries a `table`
  column when one write stages several tables (the IVM's ΔC/ΔO
  spill), and several part-sets may stage the same table (its two ΔR
  terms). `staged(table)` reads a table's staged delta back with the
  table's schema (None when nothing was staged); `staged_bytes` and
  `staged_rows` size it from the files alone, with no Spark job.
* `stage_output(df)` stages the epoch's output rows (a face's verdicts
  or assignments, declared by the `output` schema); `output(epoch)`
  reads one committed epoch's output back, `outputs()` every committed
  epoch's, with an `epoch` column, so a face returns a redelivered
  epoch's recorded output instead of re-applying it.
* `apply`'s commit builds the next version — every old file carried
  over as a hard link (metadata only, no row data), the staged files
  of every part-set moved in next to them — moves the staged output to
  `_outputs/epoch=<epoch>/`, then flips the pointer. State is
  log-structured: per-epoch write cost is the delta itself, readers
  aggregate, `compact` folds the log down. A crash before the flip
  leaves the previous complete version live and its output unread;
  redelivered epochs are skipped, so replay is exactly-once.
* Each table declares its fold once, when the store is built
  (`folds`: aggregate a log-structured table to net rows, drop dead
  keys); a table with no fold is rewritten as it is. `compact()` is
  the only rewrite: it folds every table, repartitioned on `bucket`
  so each bucket comes out as ONE file, into version `v<epoch>c`
  (carry-over disabled, so emptied buckets vanish), preserving the
  epoch. The store schedules it: after the pointer flip, a commit
  that leaves more than `_MAX_FILES_PER_BUCKET` parquet files in any
  bucket compacts, as an LSM-tree merges its runs, and the epoch's
  record says `compacted` (the count comes from the commit's own
  link-and-move pass). A crash at the compaction's flip leaves the
  epoch committed on the uncompacted version; the next commit compacts
  again. `compact(transforms)` overrides folds per table (the ANN
  index's re-cluster).
* A `run_id` (e.g. the Structured Streaming checkpoint's UUID) can be
  bound via `check_run`; it is persisted in the pointer, and a
  mismatch HARD-FAILS instead of silently replay-skipping epochs from
  a different stream whose ids restarted at 0 (a fresh checkpoint over
  old state would otherwise discard every new batch).

Durability: the pointer file is fsynced before its rename, but the
state dir is not fsynced after the rename, and neither are the moved
or linked part files. A commit survives a process kill, not a power
loss.

Reader window: `read` resolves the version under `swap_lock`, but the
returned DataFrame is lazy — GC keeps the current version plus the two
most recent predecessors, so a reader must materialize within two
new versions of issue (one commit that compacts makes two) or
re-issue the read.

On a real cluster the same pipeline swaps this directory dance for
Delta/Iceberg ``MERGE INTO``; the bucketing & touched-partition
discipline is identical.
"""

from __future__ import annotations

import functools
import json
import os
import re
import shutil
import threading
import time
from collections import Counter
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# The most buckets a state table is hashed into (IVM, incragg, near-dedup
# bands, packing cursors): a new state dir takes the largest divisor of
# this not above the cores (`VersionedBucketedState.buckets`), and every
# bucket count is a divisor of it. Also the count of any state dir whose
# pointer predates the recorded field: they were all written with 32.
NUM_BUCKETS = 32

_VERSION_RE = re.compile(r"v-?\d+c*")
_POINTER = "CURRENT"
# Current version + this many predecessors survive GC (in-flight lazy
# readers straddling a commit keep resolving).
_KEEP_PREDECESSORS = 2
# A commit that leaves more parquet files than this in any bucket
# compacts. Every read opens every file: on a 4-core host an sf0.01
# Q3 epoch took 1.54 s over 12 files per bucket and 2.12 s over 24,
# against ~1.35 s compacted, while one compaction costs 5-7 s. A face
# stages at most one file per bucket per epoch, the Q3 IVM two.
_MAX_FILES_PER_BUCKET = 16


def dir_bytes(path: str) -> int:
    """Total bytes of files under `path` (0 if absent) — shared by the
    committed-state and staged-delta size probes."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def dir_rows(path: str) -> int:
    """Total rows of the parquet files under `path` (0 if absent),
    read from file FOOTERS only — driver-side metadata, no Spark job,
    no data pages. Feeds the per-epoch pipeline telemetry."""
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return total


def _has_buckets(path: str) -> bool:
    """Whether `path` is a dir holding at least one ``bucket=`` dir."""
    return os.path.isdir(path) and any(e.startswith("bucket=") for e in os.listdir(path))


def _largest_divisor(n: int, cap: int) -> int:
    """The largest divisor of `n` not above `cap` (at least 1)."""
    return max(d for d in range(1, min(cap, n) + 1) if n % d == 0)


class VersionedBucketedState:
    """Crash-atomic, hard-link-versioned, bucket-partitioned parquet
    state tables. `tables` maps table name -> DDL schema string whose
    first column is ``bucket int`` (the partition column); `folds` maps
    a table to its compaction fold; `output` is the DDL schema of the
    per-epoch output rows, if the face has any."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        tables: dict[str, str],
        output: str | None = None,
        folds: dict[str, Callable[[DataFrame], DataFrame]] | None = None,
    ) -> None:
        self.spark = spark
        self.state_dir = state_dir
        self.tables = dict(tables)
        self.folds = dict(folds or {})
        self.output_schema = output
        self._run_id: str | None = None
        self._staging = os.path.join(state_dir, "_staged")
        self._staged_output = os.path.join(self._staging, "_output")
        self._outputs = os.path.join(state_dir, "_outputs")
        # REENTRANT: read() takes it internally; external emission
        # timers may already hold it around a read.
        self.swap_lock = threading.RLock()
        self.last_epoch: dict | None = None  # see `apply`
        self._phase_sec: dict[str, float] = {}
        os.makedirs(state_dir, exist_ok=True)
        # The bucket count belongs to the state, not to the host: every
        # commit records it in the pointer, so a restart on another core
        # count hashes keys into the buckets they were written to (and
        # DPP prunes the right ones). A new state dir sizes it to the
        # cores; a pointer without the field predates it and means 32.
        pointer = self._pointer()
        cores = spark.sparkContext.defaultParallelism
        self._buckets: int = pointer.get(
            "buckets",
            NUM_BUCKETS if pointer["version"] else _largest_divisor(NUM_BUCKETS, cores),
        )
        self._check_layout()

    @property
    def buckets(self) -> int:
        """The tables' bucket count, fixed for the life of the state dir."""
        return self._buckets

    def _check_layout(self) -> None:
        """Hard-fail on a state dir written by a DIFFERENT table
        layout: a committed version containing table dirs this pipeline
        does not declare means the pipeline's state schema changed
        (e.g. a renamed or removed state table) — silently resuming
        would read EMPTY DataFrames for the missing tables and produce
        wrong results with no error. (Declared tables may legitimately
        be absent — an epoch that produced no rows for them — so only
        UNKNOWN dirs are fatal.)"""
        _, ver = self._current()
        if ver is None:
            return
        found = {
            e
            for e in os.listdir(ver)
            if not e.startswith("_") and os.path.isdir(os.path.join(ver, e))
        }
        unknown = found - set(self.tables)
        if unknown:
            raise RuntimeError(
                f"state dir {self.state_dir} contains table(s) {sorted(unknown)} "
                f"unknown to this pipeline's layout {sorted(self.tables)}: it was "
                "written by a different pipeline version — wipe the state dir "
                "together with its checkpoint"
            )

    # -- pointer -------------------------------------------------------------

    def _pointer(self) -> dict:
        try:
            with open(os.path.join(self.state_dir, _POINTER)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {"epoch": -1, "version": None}

    def _current(self) -> tuple[int, str | None]:
        meta = self._pointer()
        ver = meta["version"]
        return meta["epoch"], None if ver is None else os.path.join(self.state_dir, ver)

    def committed_epoch(self) -> int:
        return self._current()[0]

    def check_run(self, run_id: str) -> None:
        """Bind this state dir to a stream identity. If the committed
        pointer carries a DIFFERENT run_id, the epoch ids in play come
        from another stream (e.g. a deleted-and-recreated checkpoint
        restarting at batch 0) — replay-skip would silently discard
        every new batch, so fail loudly instead."""
        existing = self._pointer().get("run_id")
        if existing is not None and existing != run_id:
            raise RuntimeError(
                f"state dir {self.state_dir} belongs to stream run {existing!r}, "
                f"got {run_id!r}: wipe the state dir together with the checkpoint "
                "(epoch ids restarted — replay-skip would drop new batches)"
            )
        self._run_id = run_id

    # -- buckets -------------------------------------------------------------

    def bucket_of(self, *cols) -> Column:
        """The state bucket of a key: ``pmod(hash(cols), buckets)``."""
        return F.pmod(F.hash(*cols), F.lit(self.buckets))

    def write_partitions(self) -> int:
        """Shuffle partition count `n` of a per-epoch bucketed write: the
        largest divisor of `buckets` not above the cores
        (``sc.defaultParallelism``) — `buckets` itself for a state dir
        this host created.

        Callers repartition on the bucket's SOURCE KEY, not on the bucket
        column: Spark's HashPartitioning puts a row in partition
        ``pmod(murmur3(key), n)``, and since `n` divides `buckets` that is
        exactly ``bucket_of(key) mod n``. So every task owns whole buckets
        and the bucket-partitioned write still emits at most one file per
        bucket. (Repartitioning on the bucket column instead would hash
        bucket values, not keep them: collisions leave some tasks with
        several buckets and some idle.)

        Why no more tasks, and no more buckets, than cores: in local mode
        a write task pays ~70 ms for the job's Hadoop configuration, and
        without Hadoop native IO every file and directory it creates
        forks a ``chmod`` (3-4 ms each) and gets a ``.crc`` sidecar — cost
        per task and per file, not per row. A 25-row delta written as 32
        tasks on 4 cores spent seconds on that, and 32 buckets written
        by 4 tasks still made 8 files per task and table."""
        return _largest_divisor(self.buckets, self.spark.sparkContext.defaultParallelism)

    # -- I/O -----------------------------------------------------------------

    def _empty(self, schema: str) -> DataFrame:
        # Zero partitions, built JVM-side: reading an absent table or
        # output runs no Spark tasks (a local list would ship a Python
        # RDD). The limit(0) tells Catalyst the relation is empty, so a
        # union drops it and a join with it is empty at planning time.
        return self.spark.createDataFrame(self.spark.sparkContext.emptyRDD(), schema).limit(0)

    def read(self, name: str) -> DataFrame:
        with self.swap_lock:
            _, ver = self._current()
        path = None if ver is None else os.path.join(ver, name)
        # Every commit makes every table's dir, so a table no epoch has
        # written is a dir without bucket subdirs: it reads as `_empty`
        # too, not as a scan Catalyst cannot see is empty.
        if path is None or not _has_buckets(path):
            return self._empty(self.tables[name])
        # Extra data columns in appended delta files are projected away
        # by the explicit schema.
        return self.spark.read.schema(self.tables[name]).parquet(path)

    def bytes(self, name: str) -> int:
        """On-disk bytes of `name` in the current committed version
        (0 if absent) — a zero-Spark-jobs size probe callers can use to
        pick a physical join side (broadcast the smaller of delta and
        state)."""
        with self.swap_lock:
            _, ver = self._current()
        if ver is None:
            return 0
        return dir_bytes(os.path.join(ver, name))

    def output(self, epoch_id: int) -> DataFrame:
        """Committed epoch `epoch_id`'s output rows (empty if the epoch
        is not committed or staged none)."""
        path = os.path.join(self._outputs, f"epoch={epoch_id}")
        if epoch_id > self.committed_epoch() or not os.path.isdir(path):
            return self._empty(self.output_schema)
        return self.spark.read.schema(self.output_schema).parquet(path)

    def outputs(self) -> DataFrame:
        """Every committed epoch's output rows, plus `epoch long`."""
        schema = f"{self.output_schema}, epoch long"
        if not os.path.isdir(self._outputs):
            return self._empty(schema)
        committed = self.committed_epoch()
        return self.spark.read.schema(schema).parquet(self._outputs).filter(
            F.col("epoch") <= committed
        )

    def restrict(self, state: DataFrame, touched: DataFrame) -> DataFrame:
        """State rows in the buckets `touched` names (semi-join on the
        partition column → dynamic partition pruning skips the rest)."""
        return state.join(
            F.broadcast(touched.select("bucket").distinct()), "bucket", "semi"
        )

    # -- staging -------------------------------------------------------------

    def stage(self, df: DataFrame, table: str | None = None, part: str | None = None) -> None:
        """Stage `df` for the next commit as part-set `part` (default
        `table`): one Spark write partitioned by (table, bucket). Rows go
        to `table`, or — when it is None — to the table their own
        `table` column names."""
        if table is not None:
            df = df.withColumn("table", F.lit(table))
        df.write.partitionBy("table", "bucket").mode("overwrite").parquet(
            os.path.join(self._staging, part or table)
        )

    def _staged_dirs(self, name: str) -> list[str]:
        """`<part>/table=<name>` dirs holding at least one bucket: an
        empty partitioned write leaves only its `_SUCCESS` marker, so
        bucket dirs — not bytes — say whether anything was staged."""
        parts = sorted(os.listdir(self._staging)) if os.path.isdir(self._staging) else []
        dirs = [os.path.join(self._staging, p, f"table={name}") for p in parts]
        return [d for d in dirs if _has_buckets(d)]

    def staged(self, name: str) -> DataFrame | None:
        """`name`'s staged delta, read with the table's schema (`bucket`
        is the only partition column below ``table=<name>``); None when
        nothing is staged. Valid until the commit that publishes it.
        Each part-set is its own read: Spark refuses several partition
        roots in one."""
        dirs = self._staged_dirs(name)
        if not dirs:
            return None
        read = self.spark.read.schema(self.tables[name]).parquet
        return functools.reduce(DataFrame.unionByName, [read(d) for d in dirs])

    def staged_bytes(self, name: str) -> int:
        """On-disk bytes of `name`'s staged delta — no Spark job."""
        return sum(dir_bytes(d) for d in self._staged_dirs(name))

    def staged_rows(self, name: str) -> int:
        """Rows of `name`'s staged delta, from parquet footers."""
        return sum(dir_rows(d) for d in self._staged_dirs(name))

    def stage_output(self, df: DataFrame) -> None:
        """Stage `df` (the `output` schema's columns) as the epoch's
        output, published by its commit."""
        df.write.mode("overwrite").parquet(self._staged_output)

    # -- the epoch transaction -----------------------------------------------

    def apply(self, epoch_id: int, body: Callable[[], None]) -> dict | None:
        """Run `body` as epoch `epoch_id` and commit what it staged,
        appended in O(delta); None, running nothing, for a committed
        epoch. Returns the epoch's record, also kept as `last_epoch`."""
        committed = self.committed_epoch()
        if epoch_id <= committed:
            return None
        # An attempt that crashed at the pointer flip has already moved
        # its output in: outputs past the committed epoch go too.
        shutil.rmtree(self._staging, ignore_errors=True)
        for entry in os.listdir(self._outputs) if os.path.isdir(self._outputs) else []:
            if int(entry.removeprefix("epoch=")) > committed:
                shutil.rmtree(os.path.join(self._outputs, entry))
        self._phase_sec = {}
        body()
        with self.phase("telemetry"):
            rows = {name: self.staged_rows(name) for name in self.tables}
        with self.phase("commit"):
            most = self._commit_version(f"v{epoch_id}", epoch_id, carry_over=True)
            compacted = most > _MAX_FILES_PER_BUCKET
            if compacted:
                self.compact()
        self.last_epoch = {
            "epoch": epoch_id,
            "rows": rows,
            "phase_sec": self._phase_sec,
            "compacted": compacted,
        }
        return self.last_epoch

    @contextmanager
    def phase(self, name: str) -> Iterator[None]:
        """Time the block as the open epoch's `phase_sec[name]`."""
        t0 = time.time()
        yield
        self._phase_sec[name] = round(time.time() - t0, 3)

    def compact(
        self, transforms: dict[str, Callable[[DataFrame], DataFrame]] | None = None
    ) -> None:
        """Rewrite every table through its declared fold, or its entry
        in `transforms`, one file per bucket; emptied buckets vanish (no
        carry-over). Epoch id preserved."""
        committed, ver = self._current()
        if ver is None:
            return
        shutil.rmtree(self._staging, ignore_errors=True)
        transforms = transforms or {}
        for name in self.tables:
            # Hashed on `bucket`, every bucket is one task's, so it is
            # written as one file.
            df = self.read(name)
            if name in transforms:
                # A transform may move rows to other buckets.
                df = transforms[name](df).repartition("bucket")
            else:
                # A fold groups by bucket and keys, which this
                # partitioning already satisfies: one exchange, not two.
                df = self.folds.get(name, lambda d: d)(df.repartition("bucket"))
            self.stage(df, name)
        self._commit_version(os.path.basename(ver) + "c", committed, carry_over=False)

    def _commit_version(self, version: str, epoch_id: int, carry_over: bool) -> int:
        """Build `version` from the old one and the staged files, flip
        the pointer to it; returns the most parquet files any bucket of
        it holds."""
        _, old_ver = self._current()
        files: Counter[str] = Counter()  # parquet files per new bucket dir
        new_ver = os.path.join(self.state_dir, version)
        # Debris from a crashed attempt at this same version.
        shutil.rmtree(new_ver, ignore_errors=True)
        for name in self.tables:
            dst_table = os.path.join(new_ver, name)
            os.makedirs(dst_table)
            src_table = None if old_ver is None else os.path.join(old_ver, name)
            if carry_over and src_table and os.path.isdir(src_table):
                for entry in os.listdir(src_table):
                    if not entry.startswith("bucket="):
                        continue
                    sdir = os.path.join(src_table, entry)
                    ddir = os.path.join(dst_table, entry)
                    os.makedirs(ddir)
                    for fname in os.listdir(sdir):
                        spath = os.path.join(sdir, fname)
                        if os.path.isfile(spath):
                            os.link(spath, os.path.join(ddir, fname))
                            files[ddir] += fname.endswith(".parquet")
            for tdir in self._staged_dirs(name):
                for entry in (e for e in os.listdir(tdir) if e.startswith("bucket=")):
                    sdir = os.path.join(tdir, entry)
                    ddir = os.path.join(dst_table, entry)
                    staged = os.listdir(sdir)
                    files[ddir] += sum(f.endswith(".parquet") for f in staged)
                    if not os.path.isdir(ddir):
                        # A bucket new to this version: move it wholesale.
                        os.replace(sdir, ddir)
                        continue
                    # Staged part files land NEXT TO the bucket's files
                    # (names are job-UUID-unique).
                    for fname in staged:
                        os.replace(os.path.join(sdir, fname), os.path.join(ddir, fname))
        if os.path.isdir(self._staged_output):
            os.makedirs(self._outputs, exist_ok=True)
            os.replace(self._staged_output, os.path.join(self._outputs, f"epoch={epoch_id}"))
        meta = {"epoch": epoch_id, "version": version, "buckets": self.buckets}
        run_id = self._run_id if self._run_id is not None else self._pointer().get("run_id")
        if run_id is not None:
            meta["run_id"] = run_id
        ptr_tmp = os.path.join(self.state_dir, f"_{_POINTER}.tmp")
        with open(ptr_tmp, "w") as fh:
            json.dump(meta, fh)
            fh.flush()
            os.fsync(fh.fileno())
        with self.swap_lock:
            os.replace(ptr_tmp, os.path.join(self.state_dir, _POINTER))
            # GC: keep the new current plus the _KEEP_PREDECESSORS most
            # recent predecessors (by commit mtime) for in-flight lazy
            # readers; drop anything older.
            versions = sorted(
                (
                    e
                    for e in os.listdir(self.state_dir)
                    if _VERSION_RE.fullmatch(e) and e != version
                ),
                key=lambda e: os.path.getmtime(os.path.join(self.state_dir, e)),
                reverse=True,
            )
            for entry in versions[_KEEP_PREDECESSORS:]:
                shutil.rmtree(os.path.join(self.state_dir, entry), ignore_errors=True)
        return max(files.values(), default=0)
