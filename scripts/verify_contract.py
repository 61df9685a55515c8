"""Drive the driver contract end-to-end, exactly as the round driver does:
load __spark_entry__ by path, smoke entry(), then run every queries()
entry at sf0.01 against its oracle_sql() in DuckDB (row count + sorted
column names + order-insensitive normalized rows).

Usage: python scripts/verify_contract.py [sf_dir] [--only name1,name2]
"""

from __future__ import annotations

import argparse
import importlib.util
import math
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def _shared_oracle_rewrites(
    oracles: dict[str, str], selected: list[str]
) -> tuple[dict[str, str], list[tuple[str, str]]]:
    """Sweep-local speedup (round-12 verdict ask #7): the MinHash pair
    relation and the transitive closure over it appear VERBATIM inside
    several oracles (the sf0.1 sweep was ~42 min, dominated by DuckDB
    recomputing those recursive-CTE blocks once per consumer query).
    Factor each shared block into a TEMP TABLE computed once per sweep
    and rewrite the consumers to read it. Purely textual on the exact
    helper output — if a plan module changes its SQL the substitution
    simply stops applying and the original oracle runs unmodified, so
    MATCH semantics cannot drift. The round driver itself still runs
    the self-contained oracle_sql() text; this path is sweep-only.

    Returns (rewritten_sql_by_name, [(temp_table_name, create_sql)])."""
    try:
        from query_processing_over_streaming_data_using_flink_spark.plans.suite_llm_data import (
            _mh_clusters_ctes,
            _minhash_sql,
        )
    except ImportError:
        return {}, []
    pairs_blk = _minhash_sql()
    clusters_blk = _mh_clusters_ctes()
    pairs_ref = "SELECT doc_a, doc_b, jaccard FROM _sweep_mh_pairs"
    clusters_repl = (
        "labels AS (SELECT doc_id, cluster_id FROM _sweep_mh_clusters),\n"
        "sizes AS (SELECT DISTINCT cluster_id, cluster_size FROM _sweep_mh_clusters)"
    )
    sel = {n: oracles[n] for n in selected if n in oracles}
    pair_users = [n for n, s in sel.items() if pairs_blk in s]
    if len(pair_users) < 2:
        return {}, []
    setup = [("_sweep_mh_pairs", f"CREATE TEMP TABLE _sweep_mh_pairs AS {pairs_blk}")]
    cluster_users = [n for n, s in sel.items() if clusters_blk in s]
    if len(cluster_users) >= 2:
        setup.append(
            (
                "_sweep_mh_clusters",
                "CREATE TEMP TABLE _sweep_mh_clusters AS\nWITH RECURSIVE\n"
                + clusters_blk.replace(pairs_blk, pairs_ref)
                + "\nSELECT doc_id, cluster_id, cluster_size "
                "FROM labels JOIN sizes USING (cluster_id)",
            )
        )
    rewrites = {}
    for n, s in sel.items():
        # Closure first (it embeds the pair block), then any remaining
        # standalone pair occurrences.
        if len(cluster_users) >= 2 and clusters_blk in s:
            s = s.replace(clusters_blk, clusters_repl)
        s = s.replace(pairs_blk, pairs_ref)
        if s != sel[n]:
            rewrites[n] = s
    return rewrites, setup


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--only", type=lambda s: set(s.split(",")), help="name1,name2,...")
    args = ap.parse_args()
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # The default 1g local heap dies mid-sweep: several dedup/ANN
        # queries persist signature frames and the clusterers
        # localCheckpoint (checkpoint blocks are NOT evictable), so
        # block-manager memory accumulates across ~200 queries until
        # localCheckpoint/collect calls start failing (first seen when
        # round 13 added three more persist-heavy queries).
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    df = mod.entry(spark)
    rows = df.collect()
    print(f"SMOKE entry(): {len(rows)} rows, schema={df.columns}")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'")

    qs, oracles = mod.queries(), mod.oracle_sql()
    selected = [n for n in qs if args.only is None or n in args.only]
    rewrites, setup = _shared_oracle_rewrites(oracles, selected)
    for tname, create_sql in setup:
        t0 = time.time()
        con.execute(create_sql)
        print(f"  [sweep] materialized {tname} in {time.time()-t0:.1f}s "
              f"(shared by {sum(1 for s in rewrites.values() if tname in s)} oracles)")
    oracles = {**oracles, **rewrites}
    failures = []
    for name, fn in sorted(qs.items()):
        if args.only is not None and name not in args.only:
            continue
        t0 = time.time()
        # One query crashing (driver OOM, analysis error) must produce a
        # red row, not kill the remaining sweep — found the hard way when
        # an exponential plan tree OOMed the driver mid-sweep (round 8).
        try:
            _check_one(spark, con, oracles, name, fn, failures, t0, args.sf_dir)
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            msg = str(exc).splitlines()[0][:200] if str(exc) else type(exc).__name__
            print(f"  {name}: ERROR — {msg}")
        finally:
            # Queries persist intermediates (minhash signatures, PQ
            # codebooks) and localCheckpoint clusterer rounds; without
            # a per-query release the block manager fills with blocks
            # no later query reuses — checkpoint blocks can't even be
            # evicted. gc.collect() drops the Python-side py4j refs so
            # the ContextCleaner can actually free the checkpoint RDDs.
            import gc

            spark.catalog.clearCache()
            gc.collect()
    print(f"{'FAIL: ' + ','.join(failures) if failures else 'ALL MATCH'} "
          f"({len(qs)} queries, {len(oracles)} with oracles)")
    return 1 if failures else 0


def _check_one(spark, con, oracles, name, fn, failures, t0, sf_dir) -> None:
        sdf = fn(spark, sf_dir)
        # Schema lint (round-4 lesson): the round driver canonicalizes
        # results with pandas sort/factorize, which throws on list-valued
        # cells — a top-level array/map/struct column is an automatic red
        # row even when the values are correct.
        from query_processing_over_streaming_data_using_flink_spark.registry import complex_toplevel_columns

        complex_cols = complex_toplevel_columns(sdf.schema)
        if complex_cols:
            failures.append(name)
            print(f"  {name}: SCHEMA LINT FAIL — top-level complex column(s) "
                  f"{complex_cols}; emit long format or to_json()")
            return
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        if name not in oracles:
            print(f"  {name}: rows-only, {len(srows)} rows ({time.time()-t0:.1f}s)")
            return
        rel = con.sql(oracles[name])
        dcols, drows = list(rel.columns), rel.fetchall()
        # Type lint (round-1 lesson): DuckDB un-cast integer sum() yields
        # HUGEINT (int128), which pandas/Arrow can't represent natively —
        # the round driver's type-sensitive hasher rejects it even when
        # values match Spark's BIGINT bit-for-bit. Plain width differences
        # (INT vs BIGINT) and DECIMAL-vs-DOUBLE are normalized fine; only
        # int128 is fatal, so that's what we gate on.
        bad_types = [
            f"{c}:{t}" for c, t in zip(dcols, rel.types)
            if "HUGEINT" in str(t).upper()
        ]
        if bad_types:
            failures.append(name)
            print(f"  {name}: ORACLE TYPE LINT FAIL — un-cast HUGEINT column(s) {bad_types}; wrap in CAST(... AS BIGINT)")
            return
        so = sorted(range(len(scols)), key=lambda i: scols[i])
        do = sorted(range(len(dcols)), key=lambda i: dcols[i])
        sn = sorted([tuple(norm(r[i]) for i in so) for r in srows], key=repr)
        dn = sorted([tuple(norm(r[i]) for i in do) for r in drows], key=repr)
        ok = len(sn) == len(dn) and sorted(scols) == sorted(dcols) and sn == dn
        print(f"  {name}: {'MATCH' if ok else 'MISMATCH'} ({len(sn)} rows, {time.time()-t0:.1f}s)")
        if not ok:
            failures.append(name)
            if sorted(scols) != sorted(dcols):
                print(f"    cols: spark={sorted(scols)} duck={sorted(dcols)}")
            for a, b in list(zip(sn, dn))[:3]:
                if a != b:
                    print(f"    spark={a}\n    duck ={b}")


if __name__ == "__main__":
    sys.exit(main())
