"""Query profiler: time registered queries through the
noop sink (prime + min-of-N, cache cleared between runs — bench.py's
exact methodology) and dump their `.explain("formatted")` plans.

Usage:
  python scripts/profile.py time  <sf_dir> name1,name2,...   [runs]
  python scripts/profile.py plan  <sf_dir> name1,name2,...   [suffix]
  python scripts/profile.py all   <sf_dir>                   [runs]

`plan` writes plans/profile/<name>_<suffix>.txt (suffix defaults to
"before"). `time` prints one JSON line per query. `all` times every
registered query (slow; use for before/after bookends).

For the streaming IVM's per-phase, per-job breakdown use
`python3 perfbench/run.py --workload bulk --trace 1` instead.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    mode = sys.argv[1]
    sf_dir = sys.argv[2]
    from query_processing_over_streaming_data_using_flink_spark import registry
    from query_processing_over_streaming_data_using_flink_spark.session import get_spark

    spark = get_spark("profile")
    queries = registry.all_queries()

    if mode == "all":
        names = list(queries)
        runs = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    else:
        names = [n.strip() for n in sys.argv[3].split(",") if n.strip()]
        runs = int(sys.argv[4]) if mode == "time" and len(sys.argv) > 4 else 2

    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    if mode == "plan":
        import io
        from contextlib import redirect_stdout

        from query_processing_over_streaming_data_using_flink_spark.pin import (
            unpinned_for_explain,
        )

        suffix = sys.argv[4] if len(sys.argv) > 4 else "before"
        outdir = os.path.join(REPO, "plans", "profile")
        os.makedirs(outdir, exist_ok=True)
        for n in names:
            # unpinned_for_explain: localCheckpoint pins become no-ops so
            # the dump shows the real subtree, not `Scan ExistingRDD`.
            with unpinned_for_explain():
                df = queries[n](spark, sf_dir)
                buf = io.StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
            txt = buf.getvalue().rstrip() + "\n"
            path = os.path.join(outdir, f"{n}_{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(txt)
            print(f"{n}: {len(txt)} chars -> {path}")
        return

    # mode in ("time", "all")
    out: dict[str, dict] = {}
    for n in names:
        spark.sparkContext.setJobDescription(f"profile: {n}")
        thunk = lambda: (
            queries[n](spark, sf_dir)
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        try:
            spark.catalog.clearCache()
            t0 = time.time()
            thunk()
            prime = round(time.time() - t0, 3)
            rs = []
            for _ in range(runs):
                spark.catalog.clearCache()
                t0 = time.time()
                thunk()
                rs.append(round(time.time() - t0, 3))
            out[n] = {"min": min(rs), "runs": rs, "prime": prime}
            print(json.dumps({n: out[n]}), flush=True)
        except Exception as e:
            out[n] = {"error": f"{type(e).__name__}: {e}"[:200]}
            print(json.dumps({n: out[n]}), flush=True)
    print("TOTALS " + json.dumps({n: v.get("min") for n, v in out.items()}))


if __name__ == "__main__":
    main()
