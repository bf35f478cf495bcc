"""Small shared runtime utilities (no operator logic lives here)."""

from __future__ import annotations


def persistent_rdd_ids(spark) -> set[int]:
    """Snapshot of the ids of every RDD currently pinned by the cache
    manager OR a localCheckpoint (``SparkContext.getPersistentRDDs``
    sees both — unlike ``DataFrame.unpersist``, which only reaches
    cache-manager entries and is a documented no-op on checkpoints)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def release_persistent_rdds_since(spark, before: set[int]) -> None:
    """Unpersist — at the RDD layer — every RDD pinned since ``before``
    was snapshotted. This is the only handle that actually frees
    localCheckpoint storage (round-5 advice: the checkpoint persists
    its RDD outside the cache manager, so ``uncacheQuery`` never finds
    it and ``DataFrame.unpersist()`` silently leaks). Diff-based on
    purpose: the checkpointed RDD is private to the Dataset internals,
    so callers cannot name it directly. Single-caller discipline —
    concurrent jobs persisting RDDs between snapshot and release would
    be released too; library code only calls this around loops it owns.
    """
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in jmap.keySet().toArray():
        if int(k) not in before:
            jmap.get(k).unpersist(False)


def checkpoint_rdds(df) -> dict:
    """``{rdd id: JavaRDD}`` of every checkpoint scan (``LogicalRDD``
    plan node) in ``df``'s analyzed plan."""
    out = {}
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        p = stack.pop()
        if p.getClass().getSimpleName() == "LogicalRDD":
            out[int(p.rdd().id())] = p.rdd()
        children = p.children()
        for i in range(children.length()):
            stack.append(children.apply(i))
    return out


def release_result(df) -> None:
    """Release the executor storage pinned by a MATERIALIZED operator
    result — a DataFrame an operator returned via
    ``localCheckpoint(eager=True)`` (``minhash_near_dups``,
    ``ngram_jaccard_pairs``, ``simhash_near_dups``,
    ``incremental_minhash_dedup``, ``substring_runs``,
    ``phash_near_dups``, ``bipartite_projection``,
    ``margin_matches_ab``, ...). Call it when you are DONE with the
    result: the checkpoint's lineage is truncated, so any action on
    ``df`` after release fails loudly with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` rather than silently
    recomputing.

    Why this exists (round 6/7 advice): ``DataFrame.unpersist()`` is a
    documented NO-OP on checkpointed frames — the checkpoint pins its
    RDD outside the cache manager, so the only real handle is the
    ``LogicalRDD`` plan node's underlying RDD, which this reaches via
    the analyzed plan. The WHOLE plan tree is walked, so composite
    results built over checkpoints (``connected_components``' label
    union over its materialized edge fixed point, a join of two
    released operators' outputs) release every checkpoint they
    reference, not just a checkpoint at the root. A lazy
    (non-checkpointed) DataFrame is accepted and ignored — releasing a
    plan that pins nothing is a no-op, so callers can release
    unconditionally (e.g. ``cosine_pairs_lsh``'s lazy default result).

    Shared-lineage caveat: a checkpoint referenced by TWO live frames
    dies for both — release only when done with everything derived
    from the result (the same rule as any manual unpersist).
    """
    for rdd in checkpoint_rdds(df).values():
        rdd.unpersist(False)

