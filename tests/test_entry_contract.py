"""Driver-contract smoke tests: entry() runs, queries()/oracle_sql()
are consistent, and every oracle-backed query hash-matches DuckDB at
sf0.01 — the same check the driver runs (CORRECTNESS gate).
"""

from __future__ import annotations

import ast
import importlib.util
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_ORACLE, assert_matches_oracle

_spec = importlib.util.spec_from_file_location(
    "__spark_entry__", os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py")
)
_entry_mod = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_entry_mod)


def test_entry_smoke(spark):
    df = _entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["l_orderkey", "revenue", "o_orderdate", "o_shippriority"]


def test_oracle_keys_subset_of_queries():
    q = _entry_mod.queries()
    o = _entry_mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) > 0


@pytest.mark.parametrize("name", sorted(_entry_mod.oracle_sql()))
def test_query_matches_oracle(spark, duck, name):
    fn = _entry_mod.queries()[name]
    sql = _entry_mod.oracle_sql()[name]
    assert_matches_oracle(fn(spark, SF_ORACLE), duck, sql)


def test_engine_facade(spark):
    """The one-import user surface: named queries, catalog tables,
    ad-hoc SQL over registered views, and helpful unknown-name errors."""
    from tests.conftest import SF_SMOKE
    from query_processing_over_streaming_data_using_flink_spark.api import Engine

    eng = Engine(SF_SMOKE, spark=spark)
    assert "q3_shipping_priority" in eng.names()
    assert eng.query("q3_shipping_priority").columns == [
        "l_orderkey", "revenue", "o_orderdate", "o_shippriority",
    ]
    assert eng.table("nation").count() == 25
    n = eng.sql("SELECT count(*) AS n FROM customer").collect()[0]["n"]
    assert n == eng.table("customer").count()
    assert "SELECT" in (eng.oracle_sql("q3_shipping_priority") or "").upper()
    with pytest.raises(KeyError, match="did you mean"):
        eng.query("q3_shiping_priority")


# The only environment variables library code may read: deployment
# settings for the local session (session.py), never behaviour toggles.
_ALLOWED_ENV = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}
# bench.py may read only the fixture directory it benchmarks.
_BENCH_ALLOWED_ENV = {"SPARK_GRAFT_SF_DIR"}


def _env_reads(tree: ast.AST):
    """(line, name) for every os.environ / os.getenv use in `tree`;
    name is the literal variable read, or None for any other use."""
    parents = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
    for node in ast.walk(tree):
        ident = node.attr if isinstance(node, ast.Attribute) else getattr(node, "id", None)
        if ident not in ("environ", "getenv"):
            continue
        ref, up = node, parents.get(node)
        if ident == "environ" and isinstance(up, ast.Attribute) and up.attr == "get":
            ref, up = up, parents.get(up)  # os.environ.get(NAME, ...)
        key = None
        if isinstance(up, ast.Call) and up.func is ref and up.args:
            key = up.args[0]
        elif ident == "environ" and isinstance(up, ast.Subscript) and up.value is ref:
            key = up.slice
        yield node.lineno, key.value if isinstance(key, ast.Constant) else None


def test_library_reads_only_deployment_env_settings():
    """Library behaviour must not fork on environment toggles: every
    switch doubles the configurations while tests and benchmarks only
    ever run the defaults. The package may read just the deployment
    settings in `_ALLOWED_ENV`; bench.py just its fixture directory."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "query_processing_over_streaming_data_using_flink_spark")
    inputs = [(os.path.join(repo, "bench.py"), _BENCH_ALLOWED_ENV)]
    for root, _dirs, files in os.walk(pkg):
        inputs += [(os.path.join(root, f), _ALLOWED_ENV) for f in sorted(files) if f.endswith(".py")]
    offenders = []
    for path, allowed in inputs:
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        offenders += [
            f"{os.path.relpath(path, repo)}:{line} reads {name!r}"
            for line, name in _env_reads(tree)
            if name not in allowed
        ]
    assert not offenders, "environment reads outside the deployment settings:\n" + "\n".join(offenders)


def _package_trees(owner: str):
    """(relative path, AST) of every package module other than `owner`
    (a path inside the package)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "query_processing_over_streaming_data_using_flink_spark")
    owner = os.path.join(pkg, owner)
    for root, _dirs, files in os.walk(pkg):
        for path in (os.path.join(root, f) for f in sorted(files) if f.endswith(".py")):
            if path == owner:
                continue
            with open(path) as fh:
                yield os.path.relpath(path, repo), ast.parse(fh.read(), path)


def _package_calls(names: set[str], owner: str) -> list[str]:
    """`path:line calls name()` for every call of one of `names` in a
    package module other than `owner` (a path inside the package)."""
    return [
        f"{path}:{node.lineno} calls {name}()"
        for path, tree in _package_trees(owner)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and (name := getattr(node.func, "attr", getattr(node.func, "id", None))) in names
    ]


# Stream-run binding: the calls only the shared stream driver may make.
_BINDING_CALLS = {"check_run", "checkpoint_run_id"}


def test_only_the_stream_driver_binds_state_to_a_run():
    """A runner that binds its own state can forget to: four runners
    once never bound, so a recreated checkpoint silently dropped every
    new batch. Binding lives in `streaming/drain.py:run_face`, and no
    other package module may call `check_run` or `checkpoint_run_id`."""
    offenders = _package_calls(_BINDING_CALLS, os.path.join("streaming", "drain.py"))
    assert not offenders, "run binding outside the stream driver:\n" + "\n".join(offenders)


# The IVF index's cell-assignment and PQ-subvector (LUT) steps.
_ANN_STEP_CALLS = {"_nearest_cells", "_pq_subvectors"}


def test_only_the_ann_operator_assigns_cells_and_builds_luts():
    """A face that assigns vectors to cells or builds a PQ lookup table
    itself holds a second copy of the IVF index, and its search can
    drift from the batch one. The steps live in
    `operators/similarity.py` (`ivf_lists`, `ivfpq_lists`,
    `ivf_search`, `adc_search`), and no other package module may call
    `_nearest_cells` or `_pq_subvectors`."""
    offenders = _package_calls(_ANN_STEP_CALLS, os.path.join("operators", "similarity.py"))
    assert not offenders, "ANN steps outside the operator:\n" + "\n".join(offenders)


# The state store's bucket arithmetic: a store's own count, read through
# its `bucket_of` and `write_partitions` methods.
_BUCKET_NAMES = {"NUM_BUCKETS", "bucket_of", "write_partitions"}


def test_buckets_come_from_the_store():
    """A face that buckets keys with a module-level count hashes them
    into buckets the store's recorded count does not name, and DPP then
    prunes the wrong ones after a restart on another core count. No
    package module but `streaming/state_table.py` may import
    `NUM_BUCKETS`, `bucket_of` or `write_partitions`."""
    offenders = [
        f"{path}:{node.lineno} imports {alias.name}"
        for path, tree in _package_trees(os.path.join("streaming", "state_table.py"))
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        for alias in node.names
        if alias.name in _BUCKET_NAMES
    ]
    assert not offenders, "bucket arithmetic outside the state store:\n" + "\n".join(offenders)


def test_no_script_shadows_a_stdlib_module():
    """`python scripts/x.py` puts `scripts/` first on `sys.path`, so a
    script named like a standard-library module replaces it for every
    import in that process — `scripts/profile.py` once broke pyspark's
    cProfile import in all its siblings."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    names = {f[:-3] for f in os.listdir(os.path.join(repo, "scripts")) if f.endswith(".py")}
    assert not names & sys.stdlib_module_names, sorted(names & sys.stdlib_module_names)


def test_every_script_prints_usage_on_help():
    """Every script parses its arguments before it starts Spark, so
    `--help` prints usage and exits 0 instead of a traceback."""
    import subprocess

    scripts = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
    broken = []
    for f in sorted(f for f in os.listdir(scripts) if f.endswith(".py")):
        proc = subprocess.run(
            [sys.executable, os.path.join(scripts, f), "--help"],
            capture_output=True, text=True, timeout=120,
        )
        if proc.returncode != 0 or "usage:" not in proc.stdout:
            broken.append(f"{f}: exit {proc.returncode}: {proc.stderr[-300:]}")
    assert not broken, "\n".join(broken)


def test_complex_column_lint_catches_planted_offender(spark):
    """The round-4 red row (`embedding_label_centroids`) was a correct
    query whose array<double> column crashed the driver's pandas
    canonicalizer. `complex_toplevel_columns` is the guard — it must
    flag array/map/struct top-level columns and pass flat schemas
    (nested complex types inside are the cells' problem, but top-level
    is what pandas factorize chokes on)."""
    from pyspark.sql import functions as F

    from query_processing_over_streaming_data_using_flink_spark.registry import complex_toplevel_columns

    offender = spark.range(3).select(
        "id",
        F.array(F.lit(1.0), F.lit(2.0)).alias("vec"),
        F.create_map(F.lit("k"), F.lit(1)).alias("m"),
        F.struct(F.lit(1).alias("a")).alias("s"),
    )
    flagged = complex_toplevel_columns(offender.schema)
    assert sorted(c.split(":")[0] for c in flagged) == ["m", "s", "vec"]

    clean = spark.range(3).select("id", F.lit("x").alias("t"), F.lit(1.5).alias("v"))
    assert complex_toplevel_columns(clean.schema) == []


def test_registered_queries_have_flat_schemas(built_queries):
    """Every registered query must emit a driver-hashable (flat) result
    schema — the same lint scripts/verify_contract.py applies, checked
    schema-only. Result schemas are SF-independent, so the queries come
    from the shared SF_SMOKE `built_queries` fixture (building all 199
    again at sf0.01 — eager pins and iterative operators run real jobs
    — cost this test ~4.5 min solo)."""
    from query_processing_over_streaming_data_using_flink_spark.registry import (
        complex_toplevel_columns,
    )

    bad = {}
    for name, df in built_queries.items():
        cols = complex_toplevel_columns(df.schema)
        if cols:
            bad[name] = cols
    assert not bad, f"registered queries with complex top-level columns: {bad}"
