"""Workload runners for the streaming-Q3 benchmark.

Every workload drives the pipeline only through its public entry
points (`ivm.run_streaming_q3`, `ivm.IncrementalQ3`,
`drain.drain_unbounded_source`, `sinks.topn_json_payload`,
`websocket.TopNWebSocketServer`) and publishes every epoch's Top-20 to
one in-process WebSocket client, whose receipt times give freshness.
Which epoch took which file is read back from the stream checkpoint's
file-source log.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from query_processing_over_streaming_data_using_flink_spark.streaming import (
    changelog,
    drain,
    ivm,
    retraction,
    sinks,
    state_table,
    websocket,
)

from wsclient import FrameRecorder

TOP_N = 20


@dataclass(frozen=True)
class Workload:
    name: str
    loop: str  # "closed" or "open"
    window_frac: float  # sliding window as a share of the table rows
    n_files: int = 0  # closed loop: files the changelog is staged in
    files_per_trigger: int | None = None  # closed loop: files per epoch
    compact_every: int | None = None
    events_per_file: int = 0  # open loop: size of each fed file
    files_per_s: float = 0.0  # open loop: offered file rate


# TPC-H sf0.01 customer/orders/lineitem (76 500 rows, so a changelog of
# 153 000 events). The scale is bounded by the run budget: a workload
# must set up, run and verify in about a minute on a 4-core host.
TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

WORKLOADS = {
    # Insert-only, then interleaved, then delete-only: 2 epochs of 8 files
    # (about 76 K events each).
    "bulk": Workload("bulk", "closed", 2 / 3, n_files=16, files_per_trigger=8),
    # The bulk changelog after a seed-chosen history, fed as 200-event
    # files at 100/3 files/s (6.7 K events/s) from the start of the
    # history epoch. A 3 s feed lands while that epoch runs, so every run
    # has the same shape: the history epoch, then one that takes the feed.
    "trickle": Workload("trickle", "open", 2 / 3, events_per_file=200, files_per_s=100 / 3),
    # Short window, so every epoch retracts as much as it inserts; the
    # stream is cut at ~1.5 N events and compacted every second epoch.
    # Runnable, but not in BENCHMARK.json: one run takes about 80 s.
    "churn": Workload(
        "churn", "closed", 0.13, n_files=8, files_per_trigger=2, compact_every=2
    ),
}


# -- inputs ------------------------------------------------------------------


def table_rows(tables_dir: str) -> int:
    """N: rows of customer + orders + lineitem, so the changelog has 2 N
    events."""
    return sum(
        pq.ParquetFile(os.path.join(tables_dir, f"{t}.parquet")).metadata.num_rows
        for t in ("customer", "orders", "lineitem")
    )


def open_slice(wl: Workload, n_rows: int, seconds: float, rng) -> tuple[int, int]:
    """(history events, fed files) of an open-loop run. The seed picks
    the history, 33 600 to 35 199 events consumed as epoch 0 (a narrow
    range, so every seed streams about as many events into about as much
    state); the feed lasts `seconds` at the offered rate, cut short
    where the changelog ends."""
    head = 33_600 + rng.randrange(1_600)
    left = (2 * n_rows - head) // wl.events_per_file
    return head, max(1, min(round(seconds * wl.files_per_s), left))


@dataclass
class Staged:
    files: list[str]  # seq-ordered; file k holds a contiguous seq range
    events: dict[str, int]  # file -> event count


def stage_changelog(
    spark: SparkSession,
    tables_dir: str,
    out_dir: str,
    window: int,
    n_files: int,
    max_seq: int | None = None,
    head_events: int = 0,
) -> Staged:
    """Build the changelog and stage it as seq-ordered parquet files
    `chunk-00000.parquet`, ... whose modification times follow seq, so a
    file source takes them in stream order. Events past `max_seq` are
    dropped. With `head_events`, file 0 holds the first `head_events`
    events and the rest are split evenly over the other files."""
    log = changelog.build_changelog(spark, tables_dir, window=window, pin=False)
    if max_seq is not None:
        log = log.filter(F.col("seq") <= max_seq)
    events = log.toArrow().sort_by("seq")
    tail = n_files - (1 if head_events else 0)
    rest = len(events) - head_events
    bounds = [0] * bool(head_events) + [head_events + rest * k // tail for k in range(tail + 1)]
    os.makedirs(out_dir)
    files, counts = [], {}
    base = time.time() - 10 * n_files
    for k, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        dst = os.path.join(out_dir, f"chunk-{k:05d}.parquet")
        pq.write_table(events.slice(lo, hi - lo), dst)
        os.utime(dst, (base + k, base + k))
        files.append(dst)
        counts[dst] = hi - lo
    return Staged(files, counts)


def source_log(checkpoint_dir: str) -> dict[str, int]:
    """file name -> batch id, from the checkpoint's file-source log
    (`sources/0/<batch>` and its periodic `.compact` rewrites)."""
    taken: dict[str, int] = {}
    log_dir = os.path.join(checkpoint_dir, "sources", "0")
    if not os.path.isdir(log_dir):
        return taken
    for entry in os.listdir(log_dir):
        if entry.startswith("."):
            continue
        with open(os.path.join(log_dir, entry), encoding="utf-8") as fh:
            for line in fh.read().splitlines()[1:]:
                if line.strip():
                    rec = json.loads(line)
                    taken[os.path.basename(rec["path"])] = rec["batchId"]
    return taken


def state_mb(state_dir: str) -> float:
    """On-disk MB of the committed state version."""
    try:
        with open(os.path.join(state_dir, "CURRENT"), encoding="utf-8") as fh:
            version = json.load(fh)["version"]
    except FileNotFoundError:
        return 0.0
    return state_table.dir_bytes(os.path.join(state_dir, version)) / 1e6


# -- one measured pass ---------------------------------------------------------


@dataclass
class Epoch:
    epoch_id: int
    published: float  # broadcast returned
    state_mb: float


@dataclass
class Pass:
    start: float
    epochs: list[Epoch] = field(default_factory=list)
    frames: list[tuple[float, str]] = field(default_factory=list)
    sched: dict[str, float] = field(default_factory=dict)  # file -> due time
    moved: dict[str, float] = field(default_factory=dict)  # file -> moved time
    taken: dict[str, int] = field(default_factory=dict)  # file -> batch id
    end: float = 0.0
    pipe_stats: list[dict] = field(default_factory=list)


class Publisher:
    """Top-20 → JSON payload → WebSocket broadcast, once per epoch."""

    def __init__(self, state_dir: str) -> None:
        self.state_dir = state_dir
        self.server = websocket.TopNWebSocketServer(port=0)
        self.server.start()
        self.client = FrameRecorder(self.server.host, self.server.port)
        self.epochs: list[Epoch] = []
        self.stats: list[dict] = []

    def __call__(self, epoch_id: int, top, stats: dict | None = None) -> None:
        self.server.broadcast(sinks.topn_json_payload(top))
        self.epochs.append(Epoch(epoch_id, time.time(), state_mb(self.state_dir)))
        if stats is not None:
            self.stats.append(stats)

    def close(self, timeout: float = 30.0) -> list[tuple[float, str]]:
        if not self.client.wait_for(len(self.epochs), timeout):
            raise RuntimeError(
                f"client received {len(self.client.frames)} of {len(self.epochs)} frames"
            )
        self.client.close()
        self.server.stop()
        return list(self.client.frames)


def run_closed(spark: SparkSession, wl: Workload, staged: Staged, work: str) -> Pass:
    """All files are due at stream start; `run_streaming_q3` takes
    `files_per_trigger` of them per epoch."""
    state_dir, ckpt = os.path.join(work, "state"), os.path.join(work, "ckpt")
    pub = Publisher(state_dir)
    p = Pass(start=time.time())
    try:
        ivm.run_streaming_q3(
            spark,
            os.path.dirname(staged.files[0]),
            state_dir,
            files_per_trigger=wl.files_per_trigger,
            top_n=TOP_N,
            on_progress=pub,
            checkpoint_dir=ckpt,
            compact_every=wl.compact_every,
        )
    finally:
        p.frames = pub.close()
    p.end = p.frames[-1][0] if p.frames else time.time()
    p.epochs, p.pipe_stats = pub.epochs, pub.stats
    p.sched = {os.path.basename(f): p.start for f in staged.files}
    p.taken = source_log(ckpt)
    return p


def run_open(
    spark: SparkSession,
    wl: Workload,
    staged: Staged,
    preload: list[str],
    feed: list[str],
    work: str,
) -> Pass:
    """`preload` is consumed as the first epoch (the dashboard's
    history). Once that epoch's files are fixed, a feeder thread links
    one file of `feed` into the watched directory every 1/files_per_s
    seconds, on schedule whatever the stream does. Each epoch goes through `IncrementalQ3.process_batch`
    and publishes its Top-20."""
    watch = os.path.join(work, "watch")
    state_dir, ckpt = os.path.join(work, "state"), os.path.join(work, "ckpt")
    os.makedirs(watch)
    for f in preload:
        os.link(f, os.path.join(watch, os.path.basename(f)))
    pipe = ivm.IncrementalQ3(spark, state_dir)
    pub = Publisher(state_dir)
    p = Pass(start=time.time())
    history_listed = threading.Event()
    stop_feed = threading.Event()
    expected = {os.path.basename(f) for f in preload + feed}
    seen: dict[str, int] = {}
    lock = threading.Lock()

    def feeder() -> None:
        history_listed.wait()
        t0 = time.time() + 0.05
        for i, f in enumerate(feed):
            due = t0 + i / wl.files_per_s
            if stop_feed.wait(max(0.0, due - time.time())):
                return
            name = os.path.basename(f)
            dst = os.path.join(watch, name)
            os.link(f, dst)
            now = time.time()
            os.utime(dst, (now, now))
            with lock:
                p.sched[name], p.moved[name] = due, now

    def handle(batch, epoch_id: int) -> None:
        history_listed.set()
        pipe.process_batch(batch, epoch_id)
        pub(epoch_id, pipe.top_n(TOP_N), pipe.last_stats)
        taken = source_log(ckpt)
        with lock:
            seen.update(taken)

    feed_thread = threading.Thread(target=feeder, daemon=True)
    feed_thread.start()
    schema = spark.read.parquet(staged.files[0]).schema
    stream = spark.readStream.schema(schema).parquet(watch)
    try:
        drain.drain_unbounded_source(
            stream,
            handle,
            done=lambda: expected <= seen.keys(),
            checkpoint_dir=ckpt,
            timeout_sec=120.0 + len(feed) / wl.files_per_s,
        )
    finally:
        stop_feed.set()
        history_listed.set()
        feed_thread.join(10)
        p.frames = pub.close()
    p.end = p.frames[-1][0] if p.frames else time.time()
    p.epochs, p.pipe_stats = pub.epochs, pub.stats
    p.taken = source_log(ckpt)
    return p


# -- results -------------------------------------------------------------------


def frame_of_batch(p: Pass) -> dict[int, float]:
    """batch id -> receipt time of the frame that epoch published (frames
    arrive in broadcast order on the one connection)."""
    return {e.epoch_id: t for e, (t, _payload) in zip(p.epochs, p.frames)}


def freshness(p: Pass) -> list[float]:
    """Per scheduled file: receipt of the first Top-20 frame from an epoch
    that included the file, minus the file's due time."""
    recv = frame_of_batch(p)
    return sorted(recv[p.taken[name]] - due for name, due in p.sched.items())


def consumed_events(p: Pass, staged: Staged) -> int:
    by_name = {os.path.basename(f): n for f, n in staged.events.items()}
    return sum(by_name[name] for name in p.taken)


def backlog_samples(p: Pass) -> list[tuple[float, int]]:
    """(time, files linked but not yet taken by an epoch) at every link."""
    admitted: dict[int, float] = {}
    recv = frame_of_batch(p)
    # A file counts as waiting until the epoch that took it published.
    for batch, t in recv.items():
        admitted[batch] = t
    out = []
    for name, t in sorted(p.moved.items(), key=lambda kv: kv[1]):
        waiting = sum(
            1
            for other, t_moved in p.moved.items()
            if t_moved <= t and admitted.get(p.taken.get(other, -1), float("inf")) > t
        )
        out.append((t, waiting))
    return out


def verify(spark: SparkSession, p: Pass, staged: Staged) -> list[str]:
    """Compare the last frame, and the last non-empty frame if the final
    state is empty, with `retraction.q3_on_state` over the events of
    the epochs up to that frame. Returns the mismatches."""
    by_name = {os.path.basename(f): f for f in staged.files}
    checks = [len(p.frames) - 1]
    nonempty = [i for i, (_t, body) in enumerate(p.frames) if json.loads(body)["data"]]
    if nonempty and nonempty[-1] != checks[0]:
        checks.append(nonempty[-1])
    problems = []
    for i in checks:
        upto = p.epochs[i].epoch_id
        files = sorted(by_name[n] for n, b in p.taken.items() if b <= upto)
        want = json.loads(
            sinks.topn_json_payload(
                retraction.q3_on_state(spark.read.parquet(*files), limit=TOP_N)
            )
        )["data"]
        got = json.loads(p.frames[i][1])["data"]
        if got != want:
            problems.append(f"epoch {upto}: streamed Top-{TOP_N} differs from q3_on_state")
    return problems
