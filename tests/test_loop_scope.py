"""Every graph loop leaves pinned only what its result reads.

Each loop runs in a ``plans.iterative.LoopScope``; on exit the scope
unpersists its inputs and releases every checkpoint the returned
frame's plan does not reference — also when the loop raises.
"""

from __future__ import annotations

import random

import pytest

from pagerank_mapreduce_implementation_spark import util
from pagerank_mapreduce_implementation_spark.operators import graph

OPERATORS = {
    "pagerank": lambda e: graph.pagerank(e),
    "hits": lambda e: graph.hits(e),
    "label_propagation": lambda e: graph.label_propagation(e),
    "bfs_distances": lambda e: graph.bfs_distances(e, ["v1", "v2"]),
    "kcore": lambda e: graph.kcore(e),
    "sssp_weighted": lambda e: graph.sssp_weighted(e, ["v1"]),
    "source_centrality": lambda e: graph.source_centrality(e, ["v1", "v2"]),
    "connected_components": lambda e: graph.connected_components(e),
    "connected_components_star": lambda e: graph.connected_components(
        e, algorithm="star"
    ),
    "triangle_counts": lambda e: graph.triangle_counts(e),
}


def plan_rdd_ids(df) -> set[int]:
    """Ids of the checkpoint RDDs (``LogicalRDD`` nodes) ``df`` reads —
    walked here rather than through ``util.checkpoint_rdds``, which the
    scope itself uses, so the check does not trust the code it tests."""
    out, stack = set(), [df._jdf.queryExecution().analyzed()]
    while stack:
        p = stack.pop()
        if p.getClass().getSimpleName() == "LogicalRDD":
            out.add(int(p.rdd().id()))
        children = p.children()
        for i in range(children.length()):
            stack.append(children.apply(i))
    return out


@pytest.fixture(scope="module")
def edges(spark):
    rng = random.Random(1)
    rows = [
        (f"v{rng.randrange(60)}", f"v{rng.randrange(60)}", float(rng.randrange(1, 9)))
        for _ in range(250)
    ]
    return spark.createDataFrame(rows, "src string, dst string, w double")


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_loop_pins_only_what_its_result_reads(spark, edges, name):
    before = util.persistent_rdd_ids(spark)
    out = OPERATORS[name](edges)
    out.collect()
    added = util.persistent_rdd_ids(spark) - before
    try:
        assert added <= plan_rdd_ids(out), name
    finally:
        util.release_result(out)


def test_wide_label_propagation_matches_and_pins_one_edge_table(
    spark, edges, monkeypatch
):
    """Past the broadcast gate label_propagation swaps its edge cache
    for a src-partitioned copy; the labels match the broadcast path and
    the call still pins nothing beyond its result."""
    small = {tuple(r) for r in graph.label_propagation(edges).collect()}
    monkeypatch.setattr(graph, "_BFS_BROADCAST_ROWS", 0)
    before = util.persistent_rdd_ids(spark)
    out = graph.label_propagation(edges)
    try:
        assert {tuple(r) for r in out.collect()} == small
        assert util.persistent_rdd_ids(spark) - before <= plan_rdd_ids(out)
    finally:
        util.release_result(out)


def test_unconverged_connected_components_releases_everything(spark):
    chain = spark.createDataFrame(
        [(f"c{i}", f"c{i + 1}") for i in range(12)], "src string, dst string"
    )
    before = util.persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(chain, max_iters=3)
    assert util.persistent_rdd_ids(spark) - before == set()
