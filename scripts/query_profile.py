"""Query profiler: time registered queries through the
noop sink with bench.py's timing rule (`bench.timed`) and dump their
`.explain("formatted")` plans.

Usage:
  python scripts/query_profile.py time  <sf_dir> name1,name2,...
  python scripts/query_profile.py plan  <sf_dir> name1,name2,...   [suffix]
  python scripts/query_profile.py all   <sf_dir>

`plan` writes plans/profile/<name>_<suffix>.txt (suffix defaults to
"before"). `time` prints one JSON line per query. `all` times every
registered query (slow; use for before/after bookends).

For the streaming IVM's per-phase, per-job breakdown use
`python3 perfbench/run.py --workload bulk --trace 1` instead.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("mode", choices=["time", "plan", "all"])
    ap.add_argument("sf_dir")
    ap.add_argument("names", nargs="?", help="comma-separated query names (not for `all`)")
    ap.add_argument("suffix", nargs="?", default="before", help="plan file suffix")
    args = ap.parse_args()
    mode, sf_dir = args.mode, args.sf_dir
    if mode != "all" and not args.names:
        ap.error(f"{mode} needs a list of query names")
    import bench
    from query_processing_over_streaming_data_using_flink_spark import registry
    from query_processing_over_streaming_data_using_flink_spark.session import get_spark

    spark = get_spark("profile")
    queries = registry.all_queries()

    if mode == "all":
        names = list(queries)
    else:
        names = [n.strip() for n in args.names.split(",") if n.strip()]

    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    if mode == "plan":
        import io
        from contextlib import redirect_stdout

        from query_processing_over_streaming_data_using_flink_spark.pin import (
            unpinned_for_explain,
        )

        suffix = args.suffix
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
        try:
            t = bench.timed(spark, lambda: bench.write_noop(queries[n](spark, sf_dir)))
            out[n] = {"min": t.sec, "runs": t.runs, "prime": t.prime}
        except Exception as e:
            out[n] = {"error": f"{type(e).__name__}: {e}"[:200]}
        print(json.dumps({n: out[n]}), flush=True)
    print("TOTALS " + json.dumps({n: v.get("min") for n, v in out.items()}))


if __name__ == "__main__":
    main()
