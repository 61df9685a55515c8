"""The one stream driver every streaming face shares.

A face (IVM Q3, rollups, LM trainers, ANN indexes, the export
manifest, the decontamination gates) consumes micro-batches through
`foreachBatch`; only its per-batch `process` differs. `run_face` runs
every stateful face: it alone binds state dirs to the checkpoint's
stream run, counts applied epochs, runs maintenance, and calls the
progress hook. Its source is a callable that drains the handler, so
the production swap to Kafka (`readStream.format("kafka")` + the wire
parser) happens HERE, once: `drain_file_source` is the test/replay
form (bounded directory, availableNow); `drain_unbounded_source` is
the same contract for sources with no natural end (socket, rate,
Kafka) — build the parsed stream (`sources/wire.py:parse_stream_lines`
over the raw value column) and hand it the SAME handler.
tests/test_wire_seam.py drives a face over a real TCP socket through
it with no file source anywhere in the stream.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from query_processing_over_streaming_data_using_flink_spark.streaming.state_table import (
    VersionedBucketedState,
)

Handler = Callable[[DataFrame, int], None]


def drain_file_source(
    spark: SparkSession,
    src_dir: str,
    handle: Handler,
    files_per_trigger: int = 2,
    checkpoint_dir: str | None = None,
) -> None:
    """Drain a parquet directory as micro-batches through `handle` with
    availableNow semantics (process everything present, then stop);
    blocks until drained. Schema is probed from a static read of the
    same directory. With `checkpoint_dir`, a re-run resumes the stream
    instead of replaying from scratch."""
    static = spark.read.parquet(src_dir)
    writer = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(src_dir)
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    writer.start().awaitTermination()


def checkpoint_run_id(checkpoint_dir: str | None) -> str | None:
    """The stream UUID Spark records in `<checkpoint_dir>/metadata`;
    None without a checkpoint, or before Spark has written that file.
    `run_face` binds every state dir of a face to this id (`check_run`):
    a recreated checkpoint restarts batch ids at 0, and without the
    binding replay-skip would silently drop every new batch against the
    old state."""
    if checkpoint_dir is None:
        return None
    try:
        with open(os.path.join(checkpoint_dir, "metadata")) as fh:
            return json.load(fh)["id"]
    except FileNotFoundError:
        return None


def drain_unbounded_source(
    stream: DataFrame,
    handle: Handler,
    done: Callable[[], bool],
    checkpoint_dir: str | None = None,
    trigger_sec: float = 0.2,
    timeout_sec: float = 120.0,
) -> None:
    """Drain an UNBOUNDED streaming DataFrame (socket, rate, Kafka wire
    stream) through the same `foreachBatch` handler contract as
    `drain_file_source`. Unbounded sources have no availableNow end, so
    the caller supplies `done()` — typically "the expected event count
    has been folded" (a Kafka deployment would instead run forever and
    never call this wrapper's stop). Polls until `done()` or
    `timeout_sec`, then stops the query; a query that dies early
    (source connection lost, handler raised) re-raises instead of
    spinning out the timeout."""
    writer = (
        stream.writeStream.foreachBatch(handle)
        .trigger(processingTime=f"{int(trigger_sec * 1000)} milliseconds")
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    deadline = time.time() + timeout_sec
    try:
        while not done():
            if not q.isActive:
                exc = q.exception()
                raise RuntimeError(f"stream query died before done(): {exc}")
            if time.time() > deadline:
                raise TimeoutError(
                    f"unbounded drain did not reach done() in {timeout_sec}s"
                )
            time.sleep(min(trigger_sec, 0.2))
    finally:
        q.stop()
        q.awaitTermination(30)


def run_face(
    source: Callable[[Handler], None],
    states: Sequence[VersionedBucketedState],
    process: Handler,
    checkpoint_dir: str | None,
    *,
    maintain: Callable[[], None] | None = None,
    maintain_every: int | None = None,
    on_epoch: Callable[[int], None] | None = None,
) -> None:
    """Drain `source` through `process`, the one way a stateful face is
    run; `source(handle)` blocks until drained. Per micro-batch:

    * bind every state in `states` to the checkpoint's run id once it
      is readable, so old state under a NEW checkpoint (batch ids
      restarted at 0) raises instead of replay-skipping every batch;
    * `process(batch, epoch_id)` (the store's `apply` skips committed epochs);
    * count the epoch as applied if a committed epoch advanced, and
      `maintain()` after every `maintain_every` applied epochs;
    * `on_epoch(epoch_id)`.

    A handler error surfaces as itself, not as Spark's query-failure
    wrapper. A checkpointed drain that never bound (metadata unreadable
    on every batch, or no batch fired) binds once more after the drain,
    and raises if it still cannot: the caller relies on the binding."""
    bound = checkpoint_dir is None
    applied = 0
    failure: Exception | None = None

    def bind() -> bool:
        run_id = checkpoint_run_id(checkpoint_dir)
        if run_id is None:
            return False
        for state in states:
            state.check_run(run_id)
        return True

    def committed() -> int:
        return max(state.committed_epoch() for state in states)

    def handle(batch: DataFrame, epoch_id: int) -> None:
        nonlocal bound, applied, failure
        try:
            if not bound:
                bound = bind()
            before = committed()
            process(batch, epoch_id)
            if committed() > before:
                applied += 1
                if maintain_every is not None and applied % maintain_every == 0:
                    maintain()
            if on_epoch is not None:
                on_epoch(epoch_id)
        except Exception as exc:
            failure = exc
            raise

    try:
        source(handle)
    except Exception as wrapper:
        if failure is not None:
            raise failure from wrapper
        raise
    if not bound and not bind():
        raise RuntimeError(
            f"run-id binding never engaged: {checkpoint_dir}/metadata "
            "was unreadable for every micro-batch and after the drain; "
            "the state has no replay-skip protection for this run"
        )
