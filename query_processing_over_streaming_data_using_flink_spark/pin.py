"""Result pinning with an explain-mode escape hatch.

Several registered queries end with an eager ``localCheckpoint`` on
their bounded final table: it materializes the result executor-side
(no driver collect) and cuts the lineage so persisted intermediates
can be unpersisted before return — a long-lived session running the
full sweep leaks no cached blocks.

The cost of that discipline showed up in PLANS.md (round-11 verdict):
``df.explain`` on a checkpointed frame prints a single
``Scan ExistingRDD`` — the artifact can't show the joins the query's
own prose describes. ``pin_result`` is the same checkpoint with a
process-local switch: inside ``unpinned_for_explain()`` it becomes a
no-op, so ``scripts/dump_plans.py`` sees the real subtree while every
production/benchmark call path keeps the eager materialization.

FINAL-RESULT checkpoints route through here, and — since round 13 —
so do SHARED-INPUT pins: ``connected_components_clusters`` pins its
edges/nodes inputs via ``pin_result`` (operators/dedup.py) because a
merely *persisted* input's full lineage still renders into every
consumer's plan string, and the un-truncated LSH-pair subtree OOMed
the driver inside ``QueryExecution.explainString`` when the final
result was checkpointed eagerly. Pinning the shared inputs severs
that lineage in production while ``unpinned_for_explain()`` still
recovers the real subtree for the PLANS.md artifact.

Iteration-internal checkpoints (power iteration, BPE merge rounds,
connected-components label propagation, MMR selection) stay direct
``localCheckpoint`` calls: skipping those would make the explain plan
itself exponential in the round count, which is the opposite of a
readable artifact.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

_EXPLAIN_MODE = False


def pin_result(df: DataFrame) -> DataFrame:
    """Eagerly materialize a bounded final result (localCheckpoint) —
    or, inside ``unpinned_for_explain()``, return ``df`` unchanged so
    its physical plan stays explainable."""
    if _EXPLAIN_MODE:
        return df
    return df.localCheckpoint(eager=True)


def materialize_concurrently(dfs: list[DataFrame]) -> None:
    """Force-materialize several INDEPENDENT persisted subtrees at once
    — noop writes submitted from a small driver thread pool (guide
    §2.6: actions are only sequential because driver code calls them
    sequentially). Used by training chains whose sub-models don't
    depend on each other (e.g. the IVF coarse quantizer and the PQ
    codebooks inside IVF-PQ): the straggler tail of one training job
    back-fills with the other's tasks instead of idling the cluster.

    Per-run only — the caller persists, this materializes, downstream
    consumers read the cached blocks within the same query invocation;
    nothing survives the run (bench clears the cache between runs).
    No-op inside ``unpinned_for_explain()`` (plan dumps must stay
    job-free) and for fewer than two frames (a single frame would
    materialize in the composed query anyway)."""
    if _EXPLAIN_MODE or len(dfs) < 2:
        return
    from concurrent.futures import ThreadPoolExecutor

    def _force(df: DataFrame) -> None:
        df.write.format("noop").mode("overwrite").save()

    with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
        # list() propagates the first worker exception to the caller.
        list(pool.map(_force, dfs))


def materialize(df: DataFrame) -> None:
    """Force one persisted frame NOW on the calling thread (noop
    write); no-op in explain mode. Pairs with `materialize_async`: start
    one subtree in the background, force the other here, join."""
    if _EXPLAIN_MODE:
        return
    df.write.format("noop").mode("overwrite").save()


def materialize_async(df: DataFrame):
    """Start materializing a persisted frame on a background driver
    thread (noop write) and return a join() callable. Lets a caller
    overlap one subtree's execution with the CONSTRUCTION of another
    that runs its own jobs eagerly — e.g. a recall cert's exact
    brute-force side computing while the index side trains its
    quantizers (guide §2.6). In explain mode returns a no-op join (plan
    dumps must stay job-free; the composed query materializes the
    persist itself)."""
    if _EXPLAIN_MODE:
        return lambda: None
    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(max_workers=1)
    fut = pool.submit(
        lambda: df.write.format("noop").mode("overwrite").save()
    )
    pool.shutdown(wait=False)
    return fut.result


@contextmanager
def unpinned_for_explain():
    """Context manager for plan-dump tooling: while active,
    ``pin_result`` is a no-op. Do NOT collect large results inside —
    callers unpersist their intermediates right after pinning, so an
    unpinned frame re-evaluates its full lineage uncached."""
    global _EXPLAIN_MODE
    prev = _EXPLAIN_MODE
    _EXPLAIN_MODE = True
    try:
        yield
    finally:
        _EXPLAIN_MODE = prev
