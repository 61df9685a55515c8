"""Self-test of the benchmark: every workload of BENCHMARK.json (or the
ones named), traced and untraced, with a short feed. Checks that each run exits 0, passes the oracle check,
prints every metric BENCHMARK.json names with its unit, and that the
traced run records a span in every layer.

    python3 perfbench/smoke.py [workload ...]

Run from the repository root; takes a few minutes.
"""

from __future__ import annotations

import json
import subprocess
import sys

LAYERS = {"changelog", "drain", "ivm", "state_table", "sinks", "websocket", "retraction"}


def run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "3", "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise AssertionError(f"{workload} trace={trace}: exit {out.returncode}\n{out.stderr[-3000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def main(workloads: list[str]) -> int:
    with open("BENCHMARK.json", encoding="utf-8") as fh:
        spec = json.load(fh)
    workloads = workloads or [w["name"] for w in spec["workloads"]]
    for name in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            details, result = run(name, trace)
            assert result["correct"] and result["failed"] == 0, (name, trace, details)
            assert result["attempted"] >= 2, (name, trace, result)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, (name, trace, sorted(set(want) ^ set(got)))
            if trace:
                missing = LAYERS - set(details["layers_traced"])
                assert not missing, (name, "no span in", sorted(missing))
            print(f"ok {name} trace={trace}: {details['epochs']} epochs", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
