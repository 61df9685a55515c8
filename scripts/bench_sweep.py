"""Parallelism sweep of the changelog workload — the engine's
equivalent of the reference's `quick_benchmark.sh` (which sweeps Flink
parallelism 1→8 over the streaming job and produced the BASELINE.md
numbers; `README.md:735-820` in the reference).

For each core count we build a fresh local[N] session with
shuffle.partitions = N and time the reference-comparable workload
(full insert+delete changelog generation + signed-weight Q3 over its
state) with bench.py's timing rule (`bench.timed`). Prints one table +
one JSON line.

Usage: python scripts/bench_sweep.py [sf_dir] [--cpus 1,2,4,8,16,32]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_once(cpus: int, sf_dir: str):
    """(`bench.Timing` of the workload, events in its changelog)."""
    import bench
    from query_processing_over_streaming_data_using_flink_spark.session import get_spark

    spark = get_spark(f"sweep-{cpus}", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        from query_processing_over_streaming_data_using_flink_spark.sources.catalog import load_table
        from query_processing_over_streaming_data_using_flink_spark.streaming.changelog import (
            build_changelog,
        )
        from query_processing_over_streaming_data_using_flink_spark.streaming.retraction import (
            q3_on_state,
        )

        n_total = sum(
            load_table(spark, sf_dir, t).count() for t in ("customer", "orders", "lineitem")
        )
        window = (n_total * 2) // 3
        t = bench.timed(
            spark,
            lambda: bench.write_noop(
                q3_on_state(build_changelog(spark, sf_dir, window=window, pin=False))
            ),
        )
        return t, 2 * n_total
    finally:
        spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default="1,2,4,8,16,32")
    args = ap.parse_args()
    cpus_list = [int(c) for c in args.cpus.split(",")]

    results = {}
    print(f"{'cores':>6} {'wall_s':>8} {'events/s':>10}")
    for cpus in cpus_list:
        t, n_events = run_once(cpus, args.sf_dir)
        wall = t.sec
        results[cpus] = {
            "wall_s": wall, "runs": t.runs, "events_per_sec": round(n_events / wall, 1)
        }
        print(f"{cpus:>6} {wall:>8.2f} {n_events / wall:>10.0f}", flush=True)
    best = max(results.values(), key=lambda r: r["events_per_sec"])
    print(json.dumps({"metric": "changelog_sweep", "sf_dir": args.sf_dir,
                      "results": results, "best": best}))


if __name__ == "__main__":
    main()
