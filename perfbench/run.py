"""Streaming-Q3 benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 3 --trace 0

Run from the repository root. The last line of standard output is
`{"correct", "attempted", "failed", "metrics"}`; with `--trace 0` the
metrics are the end-to-end ones of BENCHMARK.json, with `--trace 1` the
per-layer ones, from the same pass with spans recorded. The line before
it holds run details (sample counts, open-loop validity). A failed epoch or an oracle mismatch is counted in
`failed` and makes the exit code non-zero. See perfbench/README.md for
the workloads and what each metric should move.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
from contextlib import nullcontext  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".bench_work", str(os.getpid()))  # one per run
PACKAGE = "query_processing_over_streaming_data_using_flink_spark"


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["bulk", "trickle", "churn"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def isolate_scratch() -> None:
    """Keep Spark's shuffle/spill files and the JVM's temp files inside
    the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def quantile(sorted_values: list[float], q: float) -> float:
    """Nearest-rank quantile of an ascending list."""
    idx = min(len(sorted_values) - 1, max(0, round(q * len(sorted_values) + 0.5) - 1))
    return sorted_values[idx]


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: run from the repository root ({PACKAGE}/ not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    shutil.rmtree(WORK, ignore_errors=True)
    isolate_scratch()

    import harness
    import tracing
    from query_processing_over_streaming_data_using_flink_spark.session import get_spark

    wl = harness.WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    spark = get_spark(f"perfbench-{wl.name}", cpus=os.cpu_count())
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.time() - PROCESS_START
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    tracer = tracing.Tracer() if args.trace else None
    attempted = failed = 0
    problems: list[str] = []
    try:
        # -- set-up: the workload's changelog over the TPC-H tables, built
        # and staged once. A repeat would be warm and cost a tenth of the
        # run, so set-up is measured cold, as a user meets it.
        tables = harness.TABLES
        n_rows = harness.table_rows(tables)
        window = round(wl.window_frac * n_rows)
        n_files, max_seq, head = wl.n_files, None, 0
        if wl.name == "churn":
            # Seed picks the cut in [1.4 N, 1.6 N] events.
            max_seq = round(n_rows * (1.4 + 0.2 * rng.random()))
        if wl.loop == "open":
            head, n_feed = harness.open_slice(wl, n_rows, args.seconds, rng)
            n_files = 1 + n_feed
            max_seq = head + n_feed * wl.events_per_file
        t0 = time.time()
        with tracer.span("changelog.build") if tracer else nullcontext():
            staged = harness.stage_changelog(
                spark, tables, os.path.join(WORK, "staged"), window, n_files, max_seq, head,
            )
        build_s = time.time() - t0
        setup_s = session_s + build_s

        # A traced run makes one pass, like an untraced one, so its layer
        # figures describe the same (partly cold) pass.
        work = os.path.join(WORK, "pass")
        os.makedirs(work)
        listener = None
        if args.trace:
            listener = tracing.ProgressListener()
            spark.streams.addListener(listener)
            wrap_layers(tracer, harness)
        try:
            if wl.loop == "closed":
                measured = harness.run_closed(spark, wl, staged, work)
            else:
                feed = staged.files[1:]
                measured = harness.run_open(spark, wl, staged, staged.files[:1], feed, work)
        finally:
            if tracer:
                tracer.restore()
        attempted += len(measured.epochs)

        t0 = time.time()
        with tracer.span("retraction.oracle") if tracer else nullcontext():
            problems = harness.verify(spark, measured, staged)
        oracle_s = time.time() - t0
        attempted += 1
        failed += len(problems) > 0

        fresh = harness.freshness(measured)
        backlog = harness.backlog_samples(measured)
        late = [measured.moved[n] - measured.sched[n] for n in measured.moved]
        details = {
            "workload": wl.name,
            "seed": args.seed,
            "loop": wl.loop,
            "epochs": len(measured.epochs),
            "files": len(measured.taken),
            "freshness_samples": len(fresh),
            "feeder_late_max_s": max(late, default=0.0),
            "backlog_peak_files": max((b for _t, b in backlog), default=0),
            "build_s": build_s,
            "problems": problems,
        }
        feed_epochs = [e.published for e in measured.epochs[1:]]
        ramp_s = feed_epochs[0] - backlog[0][0] if feed_epochs and backlog else 0.0
        if wl.loop == "open" and backlog_grows(backlog, ramp_s):
            problems.append("open loop overloaded: backlog grew through the feed")
            failed += 1
        details["valid"] = not problems

        if args.trace:
            metrics = layer_metrics(
                spark, tracer, listener, measured, staged, build_s, oracle_s, details, jvm_pid,
            )
        else:
            p = measured
            metrics = {
                "setup_s": (setup_s, "s"),
                "events_per_s": (harness.consumed_events(p, staged) / (p.end - p.start), "1/s"),
                "freshness_p50_s": (quantile(fresh, 0.5), "s"),
                "freshness_p90_s": (quantile(fresh, 0.9), "s"),
                "state_peak_mb": (max(e.state_mb for e in p.epochs), "MB"),
            }
    except Exception as exc:  # a raised epoch: report it as a failed operation
        import traceback

        traceback.print_exc()
        print(json.dumps({"error": f"{type(exc).__name__}: {exc}"}))
        print(json.dumps({"correct": False, "attempted": attempted + 1, "failed": failed + 1,
                          "metrics": {}}))
        return 1
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORK))
        except OSError:  # another run is still using it
            pass

    print(json.dumps(details))
    print(
        json.dumps(
            {
                "correct": not problems,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if not problems else 1


def backlog_grows(samples: list[tuple[float, int]], ramp_s: float) -> bool:
    """Overloaded when, after the first `ramp_s` of the feed (the first
    feed epoch filling the pipe), the second half of the feed waits on
    clearly more files than the first half did."""
    if not samples:
        return False
    steady = [b for t, b in samples if t >= samples[0][0] + ramp_s]
    if len(steady) < 4:
        return False
    half = len(steady) // 2
    return max(steady[half:]) > 1.5 * max(steady[:half]) + 2


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(30)
        except Exception:
            proc.kill()
            proc.wait(10)


def wrap_layers(tracer, harness) -> None:
    """Spans around each layer's public entry points."""
    from query_processing_over_streaming_data_using_flink_spark.streaming import (
        drain, ivm, sinks, state_table, websocket,
    )

    tracer.wrap(ivm, "drain_file_source", "drain.stream")
    tracer.wrap(drain, "drain_unbounded_source", "drain.stream")
    tracer.wrap(ivm.IncrementalQ3, "process_batch", "ivm.process_batch")
    tracer.wrap(ivm.IncrementalQ3, "top_n", "ivm.top_n")
    tracer.wrap(state_table.VersionedBucketedState, "compact", "state_table.compact")
    tracer.wrap(sinks, "topn_json_payload", "sinks.payload")
    tracer.wrap(websocket.TopNWebSocketServer, "broadcast", "websocket.broadcast")
    tracer.wrap(harness, "source_log", "drain.source_log")
    tracer.wrap(harness, "state_mb", "state_table.size_probe")


def layer_metrics(spark, tracer, listener, p, staged, build_s, oracle_s, details, jvm_pid):
    import harness
    import tracing

    # Listener events arrive asynchronously; wait for the last batch's.
    want = {e.epoch_id for e in p.epochs}
    deadline = time.time() + 10
    while time.time() < deadline and not want <= {r["batch"] for r in listener.progress}:
        time.sleep(0.1)
    progress = [r for r in listener.progress if r["batch"] in want]
    n_ep = max(1, len(p.epochs))

    batches = tracer.named("ivm.process_batch")
    payloads = tracer.named("sinks.payload")
    per_epoch = tracing.jobs_in_windows(spark, [(s.start, s.end) for s in batches])
    topn_jobs = tracing.jobs_in_windows(spark, [(s.start, s.end) for s in payloads])
    jobs = sum(w.jobs for w in per_epoch)
    stages = sum(w.stages for w in per_epoch)
    acc = tracing.StageStats()
    for w in per_epoch:
        acc.add(w.work)
    batch_wall = tracer.total("ivm.process_batch")
    # The Top-N query runs as the Spark job(s) inside each payload span.
    top_n_s = sum(w.job_wall_s for w in topn_jobs)

    phase = {}
    for st in p.pipe_stats:
        for k, v in st["phase_sec"].items():
            phase[k] = phase.get(k, 0.0) + v

    trigger = sum(r.get("triggerExecution", 0) for r in progress) / 1e3
    add_batch = sum(r.get("addBatch", 0) for r in progress) / 1e3
    drain_overhead = trigger - add_batch
    in_epoch = ("ivm.process_batch", "ivm.top_n", "sinks.payload", "websocket.broadcast",
                "state_table.compact", "drain.source_log", "state_table.size_probe")
    covered = sum(tracer.total(n) for n in in_epoch) + drain_overhead

    # Compact once after the stream (churn also compacts on schedule),
    # so every workload measures the state-rewrite path.
    state_dir = os.path.join(WORK, "pass", "state")
    files_before, buckets_before = count_files(state_dir)
    from query_processing_over_streaming_data_using_flink_spark.streaming import ivm

    with tracer.span("state_table.compact_after_stream"):
        ivm.IncrementalQ3(spark, state_dir).compact_state()
    compacts = tracer.named("state_table.compact") + tracer.named("state_table.compact_after_stream")

    recv = harness.frame_of_batch(p)
    lags = [recv[e.epoch_id] - e.published for e in p.epochs]
    # Traced minus untraced wall time within one process measures the
    # first pass's warm-up more than tracing, so the overhead is the
    # spans recorded times the measured cost of one.
    overhead = len(tracer.spans) * tracing.span_cost_s()
    spans_seen = sorted({s.name.split(".")[0] for s in tracer.spans})
    details["layers_traced"] = spans_seen
    return {
        "changelog.build_s": (build_s, "s"),
        "changelog.events": (sum(staged.events.values()), "count"),
        "drain.epochs": (len(p.epochs), "count"),
        "drain.files_per_epoch": (len(p.taken) / n_ep, "count"),
        "drain.overhead_s": (drain_overhead, "s"),
        "drain.latest_offset_s": (sum(r.get("latestOffset", 0) for r in progress) / 1e3, "s"),
        "drain.wal_commit_s": (sum(r.get("walCommit", 0) for r in progress) / 1e3, "s"),
        "ivm.process_batch_s": (batch_wall, "s"),
        "ivm.process_batch_p50_s": (tracing.median([s.end - s.start for s in batches]), "s"),
        "ivm.spill_l_s": (phase.get("spill_l", 0.0), "s"),
        "ivm.spill_co_s": (phase.get("spill_co", 0.0), "s"),
        "ivm.co_s": (phase.get("co", 0.0), "s"),
        "ivm.r_dco_s": (phase.get("r_dco", 0.0), "s"),
        "ivm.r_dl_s": (phase.get("r_dl", 0.0), "s"),
        "ivm.commit_s": (phase.get("commit", 0.0), "s"),
        "ivm.telemetry_s": (phase.get("telemetry", 0.0), "s"),
        "ivm.delta_rows": (sum(st["events"] for st in p.pipe_stats), "count"),
        "ivm.top_n_s": (top_n_s, "s"),
        "ivm.jobs_per_epoch": (jobs / n_ep, "count"),
        "ivm.stages_per_epoch": (stages / n_ep, "count"),
        "ivm.tasks_per_epoch": (acc.tasks / n_ep, "count"),
        "ivm.executor_run_s": (acc.run_s, "s"),
        "ivm.executor_cpu_s": (acc.cpu_s, "s"),
        "ivm.busy_frac": (acc.run_s / (batch_wall * (os.cpu_count() or 1)), "ratio"),
        "ivm.shuffle_write_mb": (acc.shuffle_write_mb, "MB"),
        "ivm.shuffle_read_mb": (acc.shuffle_read_mb, "MB"),
        "ivm.failed_tasks": (acc.failed_tasks, "count"),
        "state_table.compact_s": (tracing.median([s.end - s.start for s in compacts]), "s"),
        "state_table.compactions": (len(compacts), "count"),
        "state_table.files": (files_before, "count"),
        "state_table.files_per_bucket": (files_before / max(1, buckets_before), "count"),
        "state_table.mb": (max(e.state_mb for e in p.epochs), "MB"),
        "sinks.payload_s": (tracer.total("sinks.payload") - top_n_s, "s"),
        "websocket.broadcast_s": (tracer.total("websocket.broadcast"), "s"),
        "websocket.client_lag_s": (tracing.median(lags), "s"),
        "websocket.frames": (len(p.frames), "count"),
        "retraction.oracle_s": (oracle_s, "s"),
        "feeder.backlog_peak": (details["backlog_peak_files"], "count"),
        "process.peak_rss_mb": (peak_rss_mb([os.getpid(), jvm_pid]), "MB"),
        "trace.overhead_s": (overhead, "s"),
        "trace.coverage_frac": (covered / trigger if trigger else 0.0, "ratio"),
    }


def count_files(state_dir: str) -> tuple[int, int]:
    """(parquet files, non-empty bucket dirs) of the committed version."""
    with open(os.path.join(state_dir, "CURRENT"), encoding="utf-8") as fh:
        version = json.load(fh)["version"]
    files = buckets = 0
    for root, _dirs, names in os.walk(os.path.join(state_dir, version)):
        parts = [n for n in names if n.endswith(".parquet")]
        files += len(parts)
        buckets += bool(parts)
    return files, buckets


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
