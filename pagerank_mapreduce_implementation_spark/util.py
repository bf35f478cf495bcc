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
    ``incremental_minhash_dedup``, ``embedding_cosine_dups``,
    ``phash_near_dups``, ...). Call it when you are DONE with the
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
    unconditionally (e.g. results obtained with ``materialize=False``).

    Shared-lineage caveat: a checkpoint referenced by TWO live frames
    dies for both — release only when done with everything derived
    from the result (the same rule as any manual unpersist).
    """
    for rdd in checkpoint_rdds(df).values():
        rdd.unpersist(False)


def release_plan_caches(df) -> None:
    """Release every PERSISTED frame a LAZY operator result references
    — the counterpart of ``release_result`` for ``materialize=False``
    outputs (``bipartite_projection``, ``margin_matches_ab``, ...)
    whose plan embeds an operator-internal ``persist()`` the caller
    otherwise has no handle to. Walks the plan WITH cache substitution
    applied (``withCachedData`` — the analyzed plan never shows
    ``InMemoryRelation``; substitution happens after analysis) and
    fully uncaches each relation via the session CacheManager
    (``uncacheQuery(cascade=False, blocking=True)``), so the entry is
    REMOVED, not just its buffers dropped: ``df`` stays valid and
    recomputes from source on any later action, and other plans that
    referenced the same cache likewise fall back to recompute (the
    same shared-lineage rule as any manual unpersist).

    Why this exists (round-14 advice): the docstrings used to
    delegate lazy-path cleanup to ``spark.catalog.clearCache()``,
    which nukes EVERY cache in the session — a blunt instrument for
    long-lived sessions. This releases exactly the caches the one
    plan pins. Nested persists (a cached frame built over another
    cached frame) are reached by re-applying cache substitution to
    each relation's stored child plan (``cacheManager.useCachedData``
    — the stored plan itself is PRE-substitution, so walking it raw
    would miss the inner cache). No-op on plans that pin nothing, so
    callers can release unconditionally."""
    spark = df.sparkSession
    jsess = spark._jsparkSession
    cm = jsess.sharedState().cacheManager()
    stack = [df._jdf.queryExecution().withCachedData()]
    while stack:
        p = stack.pop()
        if p.getClass().getSimpleName() == "InMemoryRelation":
            inner = p.cacheBuilder().logicalPlan()
            cm.uncacheQuery(jsess, inner, False, True)
            stack.append(cm.useCachedData(inner))
        children = p.children()
        for i in range(children.length()):
            stack.append(children.apply(i))
