"""The one source-drain harness every streaming face shares.

Each face (IVM Q3, incremental rollups, LM trainers, gates/routers,
ANN indexes, the export manifest) consumes micro-batches through
`foreachBatch`; only the per-batch handler differs. In production the
source swaps to Kafka (`readStream.format("kafka")` + the wire parser)
— that swap happens HERE, once, not in seven copies:
`drain_file_source` is the test/replay form (bounded directory,
availableNow); `drain_unbounded_source` is the same contract for
sources with no natural end (socket, rate, Kafka) — build the parsed
stream (`sources/wire.py:parse_stream_lines` over the raw value
column) and hand it the SAME handler. The seam is executable, not a
comment: tests/test_wire_seam.py drives a face over a real TCP socket
through this function with no file source anywhere in the stream.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def drain_file_source(
    spark: SparkSession,
    src_dir: str,
    handle: Callable[[DataFrame, int], None],
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
    Each streaming face binds its state dir to this id (`check_run`): a
    recreated checkpoint restarts batch ids at 0, and without the
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
    handle: Callable[[DataFrame, int], None],
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
