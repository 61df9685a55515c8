"""Output sinks — the reference's emission surface re-expressed as
foreachBatch writers:

  * console Top-N table   ← `outputTopN` printf loop
    (`TPCHQuery3_StreamProcessor_no_websocket.java:627-649`)
  * JSON-lines Top-N feed ← the WebSocket broadcast payload
    `{"timestamp": ..., "data": [{rank, orderkey, revenue, orderdate,
    shippriority}]}` (`TPCHQuery3_StreamProcessor.java:1036-1055`)

The hand-rolled RFC-6455 server itself (`:584-974`) is infrastructure,
not a query capability (SURVEY §7 non-goals); any process can tail the
JSON-lines file or wrap it in a socket. The payload format is kept
byte-compatible in spirit: rank/orderkey/revenue/orderdate/priority.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame


def format_topn_console(top: DataFrame, n: int | None = None) -> str:
    """Fixed-width console rendering of a Top-N result (the reference's
    console sink format)."""
    rows = top.collect() if n is None else top.limit(n).collect()
    lines = [
        f"{'rank':>4} | {'orderkey':>10} | {'revenue':>14} | {'orderdate':>10} | pri",
        "-" * 55,
    ]
    for i, r in enumerate(rows, 1):
        od = r["o_orderdate"]
        lines.append(
            f"{i:>4} | {r['l_orderkey']:>10} | {r['revenue']:>14.4f} | "
            f"{str(od.date()) if od is not None else '':>10} | {r['o_shippriority']}"
        )
    return "\n".join(lines)


def topn_json_payload(top: DataFrame, ts: float | None = None) -> str:
    """One JSON document per emission — the WebSocket broadcast payload
    shape (`TPCHQuery3_StreamProcessor.java:1036-1052`)."""
    rows = top.collect()
    return json.dumps(
        {
            "timestamp": int((time.time() if ts is None else ts) * 1000),
            "data": [
                {
                    "rank": i,
                    "orderkey": r["l_orderkey"],
                    "revenue": round(r["revenue"], 4),
                    "orderdate": str(r["o_orderdate"].date()) if r["o_orderdate"] else None,
                    "shippriority": r["o_shippriority"],
                }
                for i, r in enumerate(rows, 1)
            ],
        }
    )


def threads_json_payload(spark=None, ts: float | None = None) -> str:
    """System-metrics broadcast — the reference's dashboard pushes a
    `{"type":"threads","timestamp":...,"data":[{id,name,state,priority,
    cpuTime}...]}` message every 2 s alongside the Top-N feed
    (`TPCHQuery3_StreamProcessor.java:713-869`). The Spark analogue:
    one entry per live Python thread (driver side: the scheduler /
    emission / foreachBatch threads), plus — when a SparkSession is
    given — a `spark` section from `sparkContext.statusTracker()`
    (active jobs/stages, the cluster-facing signal the reference's
    per-thread CPU times approximate on a single JVM)."""
    import threading

    doc: dict = {
        "type": "threads",
        "timestamp": int((time.time() if ts is None else ts) * 1000),
        "data": [
            {
                "id": t.ident or 0,
                "name": t.name,
                "state": "RUNNABLE" if t.is_alive() else "TERMINATED",
                "priority": 5,  # Python threads carry no priority; the
                "cpuTime": 0,  # reference's fields kept for dashboard parity
                "type": "important" if t is threading.main_thread() else "normal",
            }
            for t in threading.enumerate()
        ],
    }
    if spark is not None:
        tracker = spark.sparkContext.statusTracker()
        active_stages = tracker.getActiveStageIds()
        doc["spark"] = {
            "activeJobs": list(tracker.getActiveJobsIds()),
            "activeStages": list(active_stages),
            "numActiveTasks": sum(
                (info.numActiveTasks if info is not None else 0)
                for info in (tracker.getStageInfo(s) for s in active_stages)
            ),
        }
    return json.dumps(doc)


# The IVM pipeline topology as the dashboard's DAG view expects it —
# the reference's simple_index.html renders a 9-node pipeline graph of
# its Flink job; this is the engine's actual dataflow
# (streaming/ivm.py): changelog source → relation split → bucketed
# delta spills → delta joins ΔCO, ΔR → Δresult fold → append commit
# → Top-N emission.
PIPELINE_NODES: tuple[tuple[str, str], ...] = (
    ("source", "changelog source"),
    ("split", "relation split ΔC/ΔO/ΔL"),
    ("spill", "bucketed delta spill"),
    ("expand", "delta joins ΔCO, ΔR"),
    ("fold", "Δresult fold"),
    ("commit", "append commit (epoch)"),
    ("topn", "Top-N emission"),
)
PIPELINE_EDGES: tuple[tuple[str, str], ...] = (
    ("source", "split"), ("split", "spill"), ("spill", "expand"),
    ("expand", "fold"), ("fold", "commit"), ("commit", "topn"),
)


def pipeline_json_payload(
    epoch_id: int, ts: float | None = None, stats: dict | None = None
) -> str:
    """One `{"type":"pipeline",...}` frame per epoch — the dashboard's
    job-graph view (reference `simple_index.html` pipeline DAG): node
    list, edge list, and the epoch that just flowed through it. With
    `stats` (IncrementalQ3.last_stats: the store's `state.last_epoch`
    record, whose `rows` are each table's staged delta rows from parquet
    footers, plus `events`), each node carries the row count that flowed
    out of it, the reference DAG's per-node event counters."""
    counts: dict[str, int] = {}
    if stats:
        events, rows = stats["events"], stats["rows"]
        counts = {
            "source": events,
            "split": events,
            "spill": events,
            "expand": rows["co"],
            "fold": rows["r"],
            "commit": sum(rows.values()),
            "topn": min(20, rows["r"]),
        }
    return json.dumps(
        {
            "type": "pipeline",
            "timestamp": int((time.time() if ts is None else ts) * 1000),
            "epoch": epoch_id,
            "nodes": [
                {"id": nid, "name": name, "status": "ok", "count": counts.get(nid)}
                for nid, name in PIPELINE_NODES
            ],
            "edges": [list(e) for e in PIPELINE_EDGES],
        }
    )


class JsonLinesTopNSink:
    """foreachBatch progress hook appending one JSON payload per
    emission — pair with `IncrementalQ3` via run_streaming_q3's
    on_progress.

    EXACTLY-ONCE under epoch redelivery: each emission first lands in
    an epoch-named sidecar file (atomic rename from a temp name), so a
    replayed epoch overwrites its own record instead of appending a
    duplicate line; the aggregate `.jsonl` view is rebuilt from the
    sidecars on every write. A plain append sink would double-emit on
    every crash-retry — the classic at-least-once sink bug."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.dir = (os.path.dirname(path) or ".") + "/.epochs_" + os.path.basename(path)
        os.makedirs(self.dir, exist_ok=True)

    def __call__(self, epoch_id: int, top: DataFrame) -> None:
        payload = topn_json_payload(top)
        final = os.path.join(self.dir, f"epoch_{epoch_id:012d}.json")
        tmp = final + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(payload + "\n")
        os.replace(tmp, final)  # idempotent: redelivery overwrites
        with open(self.path + ".tmp", "w", encoding="utf-8") as out:
            for name in sorted(os.listdir(self.dir)):
                if name.endswith(".json"):
                    with open(os.path.join(self.dir, name), encoding="utf-8") as fh:
                        out.write(fh.read())
        os.replace(self.path + ".tmp", self.path)


class ConsoleTopNSink:
    """foreachBatch progress hook printing the formatted table."""

    def __call__(self, epoch_id: int, top: DataFrame) -> None:
        print(f"=== epoch {epoch_id} ===")
        print(format_topn_console(top))
