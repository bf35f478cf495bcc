"""Golden tests for the iterative PageRank operator (SURVEY.md §2 O5-O21).

The oracle here is a dict-based pure-Python evaluator implementing the
reference semantics exactly (PageRank.java:378,454-468,493,515,523,527):
seed 1/N over distinct src, contribution rank/out_degree per edge
OCCURRENCE, new rank = 0.15 + 0.85*sum over the src-vertex set only.
"""

from __future__ import annotations

import math

import pytest

from pagerank_mapreduce_implementation_spark.operators.graph import pagerank, rank_descending


def py_pagerank(edges: list[tuple[str, str]], n_iters: int = 10, d: float = 0.85):
    srcs = {s for s, _ in edges}
    deg: dict[str, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    n = len(srcs)
    ranks = {u: 1.0 / n for u in srcs}
    for _ in range(n_iters):
        contrib: dict[str, float] = {}
        for s, t in edges:
            contrib[t] = contrib.get(t, 0.0) + ranks[s] / deg[s]
        ranks = {u: (1.0 - d) + d * contrib.get(u, 0.0) for u in srcs}
    return ranks


# 5-node graph: 'e' is dangling (appears only as dst from a vertex that
# exists... we make 'd' a vertex with an out-edge to red-link 'x'),
# duplicate edge a->b, red link 'x' (dst-only), zero-inbound vertex 'd'.
EDGES = [
    ("a", "b"),
    ("a", "b"),  # duplicate: scatters twice (PageRank.java:454-468)
    ("a", "c"),
    ("b", "c"),
    ("c", "a"),
    ("d", "x"),  # x is a red link: receives mass but is dropped
]


def test_reference_parity_golden(spark):
    edges = spark.createDataFrame(EDGES, "src string, dst string")
    got = {r["url"]: r["rank"] for r in pagerank(edges, n_iters=10).collect()}
    want = py_pagerank(EDGES, 10)
    assert set(got) == set(want)  # red link x dropped, all srcs kept
    for u in want:
        assert got[u] == pytest.approx(want[u], rel=1e-12), u


def test_red_links_dropped_zero_inbound_kept(spark):
    edges = spark.createDataFrame(EDGES, "src string, dst string")
    got = {r["url"]: r["rank"] for r in pagerank(edges, n_iters=2).collect()}
    assert "x" not in got
    # d has no inbound: rank = 0.15 every iteration (PageRank.java:523,527)
    assert got["d"] == pytest.approx(0.15)


def test_textbook_mode_is_distribution(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")], "src string, dst string"
    )
    got = pagerank(edges, n_iters=15, mode="textbook").collect()
    total = sum(r["rank"] for r in got)
    # d dangles into nothing? d->a exists so all 4 have out-edges; vertex
    # set = {a,b,c,d}; textbook mode keeps sum(rank) == 1.
    assert total == pytest.approx(1.0, abs=1e-9)


def test_rank_descending_with_ties(spark):
    edges = spark.createDataFrame(EDGES, "src string, dst string")
    ranks = pagerank(edges, n_iters=10)
    top = rank_descending(ranks, limit=3).collect()
    vals = [r["rank"] for r in top]
    assert vals == sorted(vals, reverse=True)
    # deterministic tiebreak by url asc
    full = rank_descending(ranks).collect()
    for i in range(len(full) - 1):
        if math.isclose(full[i]["rank"], full[i + 1]["rank"], rel_tol=0, abs_tol=0):
            assert full[i]["url"] < full[i + 1]["url"]


def test_empty_edges(spark):
    edges = spark.createDataFrame([], "src string, dst string")
    assert pagerank(edges, n_iters=3).count() == 0


def test_explicit_vertices_keeps_dangling(spark):
    # d is dangling (a vertex with no out-edges): derived-from-src
    # vertex sets drop it; the explicit vertex list keeps it at
    # rank (1-d) + d*contrib like the reference (PageRank.java:472,527).
    edges = spark.createDataFrame([("a", "d"), ("a", "b"), ("b", "a")], "src string, dst string")
    verts = spark.createDataFrame([("a",), ("b",), ("d",)], ["url"])
    got = {r["url"]: r["rank"] for r in pagerank(edges, n_iters=3, vertices=verts).collect()}
    assert set(got) == {"a", "b", "d"}
    assert got["d"] > 0.15  # receives mass from a
    default = {r["url"] for r in pagerank(edges, n_iters=1).collect()}
    assert default == {"a", "b"}  # derived vertex set drops d


def test_iteration_driver_convergence_early_exit(spark):
    from pyspark.sql import functions as F

    from pagerank_mapreduce_implementation_spark.plans.iterative import LoopScope

    calls = []

    def step(state, i):
        calls.append(i)
        # x halves each step -> convergence threshold hit quickly
        return state.select((F.col("x") / 2).alias("x"))

    def converged(prev, cur):
        return cur.agg(F.max("x")).collect()[0][0] < 0.1

    state = spark.createDataFrame([(1.0,)], ["x"])
    with LoopScope() as scope:
        out = scope.iterate(state, step, n_iters=50, converged=converged)
        assert out.collect()[0]["x"] < 0.1
    assert len(calls) < 10  # early exit, not 50 iterations


def test_connected_components_chain_and_islands(spark):
    from pagerank_mapreduce_implementation_spark.operators.graph import (
        connected_components,
    )

    # chain 1-2-3 (via pairs (1,2),(2,3)), island pair (10,11),
    # self-contained pair (7,5) with reversed order
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (7, 5)], "src long, dst long"
    )
    out = {
        r.vertex: r.component
        for r in connected_components(edges).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 5: 5, 7: 5}


def test_connected_components_converges_long_chain(spark):
    from pagerank_mapreduce_implementation_spark.operators.graph import (
        connected_components,
    )

    # a 12-vertex path needs ~11 label hops; max_iters bounds it
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "src long, dst long"
    )
    out = connected_components(edges, max_iters=15).collect()
    assert {r.component for r in out} == {0} and len(out) == 12


def test_connected_components_raises_when_diameter_exceeds_max_iters(spark):
    import pytest

    from pagerank_mapreduce_implementation_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iters=3)


@pytest.mark.slow  # r17 fast-tier split: >10 s sweep, see pytest.ini
def test_cc_star_matches_label_propagation_structured_graphs(spark):
    from pagerank_mapreduce_implementation_spark.operators.graph import (
        connected_components,
    )

    cases = {
        "chain_islands": [(1, 2), (2, 3), (10, 11), (7, 5)],
        # a 40-vertex path: diameter 39 — label propagation needs 40
        # rounds; star must finish in O(log^2 n) (max_iters=8 enforces)
        "long_chain": [(i, i + 1) for i in range(39)],
        "self_loops_and_dups": [(4, 4), (1, 2), (2, 1), (2, 3), (9, 9)],
        "star_graph": [(0, i) for i in range(1, 20)],
    }
    for name, pairs in cases.items():
        edges = spark.createDataFrame(pairs, "src long, dst long")
        star = {
            r.vertex: r.component
            for r in connected_components(edges, algorithm="star", max_iters=8).collect()
        }
        label = {
            r.vertex: r.component
            for r in connected_components(edges, max_iters=50).collect()
        }
        assert star == label, f"{name}: {star} != {label}"


@pytest.mark.slow  # r17 fast-tier split: >10 s sweep, see pytest.ini
def test_cc_star_matches_label_propagation_random_graphs(spark):
    """Property: on random graphs the two algorithms produce identical
    (vertex -> min reachable id) labelings."""
    import random

    from pagerank_mapreduce_implementation_spark.operators.graph import (
        connected_components,
    )

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        n = 60
        pairs = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(70)
        ]
        edges = spark.createDataFrame(pairs, "src long, dst long")
        star = {
            r.vertex: r.component
            for r in connected_components(edges, algorithm="star", max_iters=10).collect()
        }
        label = {
            r.vertex: r.component
            for r in connected_components(edges, max_iters=60).collect()
        }
        assert star == label, f"seed {seed}"


def test_plan_size_estimate_failure_falls_back(spark, monkeypatch):
    """The loop-width sizing reads plan stats through a PRIVATE py4j
    surface; when that surface breaks (Spark internals move), pagerank
    must still run at the conf-cap width with identical results."""
    from pagerank_mapreduce_implementation_spark.operators import graph as graph_mod

    class _Broken:
        @property
        def _jdf(self):
            raise RuntimeError("queryExecution moved in a Spark bump")

    # layer 1: the helper itself swallows ANY private-path failure
    assert graph_mod._plan_size_bytes(_Broken()) is None

    # layer 2: with the estimate unavailable, the loop sizes from the
    # shuffle-partition cap and produces the exact same ranks
    monkeypatch.setattr(graph_mod, "_plan_size_bytes", lambda df: None)
    edges = spark.createDataFrame(EDGES, "src string, dst string")
    got = {r["url"]: r["rank"] for r in pagerank(edges, n_iters=10).collect()}
    want = py_pagerank(EDGES, 10)
    assert set(got) == set(want)
    for u in want:
        assert got[u] == pytest.approx(want[u], rel=1e-12), u


WEDGES = [
    ("a", "b", 2.0),
    ("a", "c", 1.0),
    ("b", "c", 5.0),
    ("c", "a", 1.0),
    ("c", "b", 3.0),
    ("d", "x", 4.0),  # x is a red link
]


def py_pagerank_weighted(
    edges: list[tuple[str, str, float]],
    n_iters: int = 10,
    d: float = 0.85,
    reset: dict[str, float] | None = None,
    mode: str = "reference",
):
    srcs = {s for s, _, _ in edges}
    wsum: dict[str, float] = {}
    for s, _, w in edges:
        wsum[s] = wsum.get(s, 0.0) + w
    n = len(srcs)
    r0 = reset if reset is not None else {u: 1.0 / n for u in srcs}
    ranks = {u: r0.get(u, 0.0) for u in srcs}
    for _ in range(n_iters):
        contrib: dict[str, float] = {}
        for s, t, w in edges:
            if wsum[s] != 0.0:
                contrib[t] = contrib.get(t, 0.0) + ranks[s] * w / wsum[s]
        if mode == "reference":
            const = (
                {u: (1.0 - d) * n * r0.get(u, 0.0) for u in srcs}
                if reset is not None
                else {u: 1.0 - d for u in srcs}
            )
            ranks = {u: const[u] + d * contrib.get(u, 0.0) for u in srcs}
        else:
            dangling = sum(ranks[u] for u in srcs if wsum.get(u, 0.0) == 0.0)
            ru = reset if reset is not None else {u: 1.0 / n for u in srcs}
            ranks = {
                u: (1.0 - d) * ru.get(u, 0.0)
                + d * (contrib.get(u, 0.0) + dangling * ru.get(u, 0.0))
                for u in srcs
            }
    return ranks


def test_weighted_pagerank_matches_python_oracle(spark):
    edges = spark.createDataFrame(WEDGES, "src string, dst string, weight double")
    got = {
        r["url"]: r["rank"]
        for r in pagerank(edges, n_iters=10, weight_col="weight").collect()
    }
    want = py_pagerank_weighted(WEDGES, 10)
    assert set(got) == set(want)
    for u in want:
        assert got[u] == pytest.approx(want[u], rel=1e-12), u


def test_uniform_weights_bit_identical_to_unweighted(spark):
    plain = spark.createDataFrame(EDGES, "src string, dst string")
    weighted = spark.createDataFrame(
        [(s, t, 1.0) for s, t in EDGES], "src string, dst string, weight double"
    )
    a = {r["url"]: r["rank"] for r in pagerank(plain, n_iters=10).collect()}
    b = {
        r["url"]: r["rank"]
        for r in pagerank(weighted, n_iters=10, weight_col="weight").collect()
    }
    assert a == b  # exact float equality: w=1.0 multiplies by exactly 1


def test_uniform_reset_bit_identical_to_default(spark):
    edges = spark.createDataFrame(EDGES, "src string, dst string")
    srcs = sorted({s for s, _ in EDGES})
    uniform = spark.createDataFrame(
        [(u, 1.0 / len(srcs)) for u in srcs], "url string, reset double"
    )
    for mode in ("reference", "textbook"):
        a = {r["url"]: r["rank"] for r in pagerank(edges, n_iters=5, mode=mode).collect()}
        b = {
            r["url"]: r["rank"]
            for r in pagerank(edges, n_iters=5, mode=mode, reset=uniform).collect()
        }
        assert set(a) == set(b)
        for u in a:
            # (1-d)*N*(1/N) and mass*(1/N) differ from the literal path
            # only by float round-trip of N*(1/N)
            assert b[u] == pytest.approx(a[u], rel=1e-12), (mode, u)


def test_personalized_pagerank_concentrates_on_reset_set(spark):
    """Teleporting only to 'a' must rank a's neighborhood above the
    rest, and match the python oracle exactly."""
    edges = spark.createDataFrame(WEDGES, "src string, dst string, weight double")
    rst = spark.createDataFrame([("a", 1.0)], "url string, reset double")
    got = {
        r["url"]: r["rank"]
        for r in pagerank(
            edges, n_iters=10, mode="textbook", weight_col="weight", reset=rst
        ).collect()
    }
    want = py_pagerank_weighted(WEDGES, 10, reset={"a": 1.0}, mode="textbook")
    for u in want:
        assert got[u] == pytest.approx(want[u], rel=1e-12), u
    assert got["a"] > got["d"]  # teleport target beats the disconnected src


def test_weighted_pagerank_edge_cases(spark):
    # all-zero weights: every source is dangling, nothing scatters and
    # (deriving vertices from filtered links) the result is empty
    z = spark.createDataFrame(
        [("a", "b", 0.0), ("b", "c", 0.0)], "src string, dst string, weight double"
    )
    assert pagerank(z, n_iters=2, weight_col="weight").count() == 0
    # ...unless the caller keeps the vertices explicitly: then they are
    # all zero-inbound and sit at the (1-d) constant
    vs = spark.createDataFrame([("a",), ("b",), ("c",)], "url string")
    got = {
        r["url"]: r["rank"]
        for r in pagerank(z, n_iters=2, weight_col="weight", vertices=vs).collect()
    }
    assert got == {"a": pytest.approx(0.15), "b": pytest.approx(0.15), "c": pytest.approx(0.15)}
    # empty edges stay empty in the weighted path too
    e = spark.createDataFrame([], "src string, dst string, weight double")
    assert pagerank(e, n_iters=2, weight_col="weight").count() == 0


@pytest.mark.slow  # r17 fast-tier split: >10 s sweep, see pytest.ini
def test_weighted_pagerank_random_graphs_match_python_oracle(spark):
    """Randomized parity: weighted + personalized variants against the
    pure-python evaluator on random weighted digraphs (duplicate edges
    and red links included)."""
    import random

    for seed in (3, 19, 71):
        rng = random.Random(seed)
        n = 25
        edges = [
            (
                f"v{rng.randrange(n)}",
                f"v{rng.randrange(int(n * 1.4))}",  # ~30% red-link targets
                round(rng.uniform(0.1, 5.0), 3),
            )
            for _ in range(80)
        ]
        df = spark.createDataFrame(edges, "src string, dst string, weight double")
        got = {
            r["url"]: r["rank"]
            for r in pagerank(df, n_iters=6, weight_col="weight").collect()
        }
        want = py_pagerank_weighted(edges, 6)
        assert set(got) == set(want), seed
        for u in want:
            assert got[u] == pytest.approx(want[u], rel=1e-9), (seed, u)

        # personalized textbook over the same graph: teleport to 3 seeds
        srcs = sorted({s for s, _, _ in edges})
        seeds = {u: 1.0 / 3 for u in srcs[:3]}
        rst = spark.createDataFrame(list(seeds.items()), "url string, reset double")
        got_p = {
            r["url"]: r["rank"]
            for r in pagerank(
                df, n_iters=6, mode="textbook", weight_col="weight", reset=rst
            ).collect()
        }
        want_p = py_pagerank_weighted(edges, 6, reset=seeds, mode="textbook")
        for u in want_p:
            assert got_p[u] == pytest.approx(want_p[u], rel=1e-9), (seed, u)


def test_weighted_oracle_sql_agrees_on_zero_weight_sources(spark):
    """The weighted recursive-CTE oracle and the operator must agree on
    the vertex-set edge case: a source whose weights sum to 0 leaves
    the DEFAULT vertex set on both sides."""
    import duckdb

    from pagerank_mapreduce_implementation_spark import oracles

    edges = [("a", "b", 1.0), ("z", "b", 0.0), ("b", "a", 2.0)]
    df = spark.createDataFrame(edges, "src string, dst string, weight double")
    got = {
        r["url"]: round(r["rank"], 6)
        for r in pagerank(df, n_iters=4, weight_col="weight").collect()
    }
    vals = ", ".join(f"('{s}','{t}',{w})" for s, t, w in edges)
    sql = oracles.weighted_pagerank_sql(
        edges_sql=f"SELECT * FROM (VALUES {vals}) t(src, dst, w)", n_iters=4
    )
    want = {u: r for u, r in duckdb.connect().execute(sql).fetchall()}
    assert got == want and "z" not in got


def test_reset_with_duplicate_urls_aggregates_mass(spark):
    """A reset vector with duplicate urls must NOT duplicate vertex
    rows: duplicate mass is summed per url (code-review finding)."""
    edges = spark.createDataFrame(EDGES, "src string, dst string")
    dup = spark.createDataFrame(
        [("a", 0.5), ("a", 0.5)], "url string, reset double"  # same url twice
    )
    single = spark.createDataFrame([("a", 1.0)], "url string, reset double")
    got_dup = {
        r["url"]: r["rank"]
        for r in pagerank(edges, n_iters=4, mode="textbook", reset=dup).collect()
    }
    got_single = {
        r["url"]: r["rank"]
        for r in pagerank(edges, n_iters=4, mode="textbook", reset=single).collect()
    }
    srcs = {s for s, _ in EDGES}
    assert len(got_dup) == len(srcs)  # one row per vertex, no dupes
    for u in got_single:
        assert got_dup[u] == pytest.approx(got_single[u], rel=1e-12), u


def test_pagerank_reliable_checkpoint_dir(spark, tmp_path):
    """Round-6/7 verdict carry: the preemptible-cluster fault-tolerance
    path. reliable_dir switches the loop's lineage truncation from
    executor-local checkpoint blocks to RELIABLE checkpoints in the
    given directory — ranks must be BIT-identical to the default path
    (same plan, only the truncation storage differs) and real
    checkpoint files must land in the directory."""
    import os

    edges = spark.createDataFrame(EDGES, "src string, dst string")
    default = {r["url"]: r["rank"] for r in pagerank(edges, n_iters=10).collect()}

    ckpt = str(tmp_path / "reliable")
    reliable = {
        r["url"]: r["rank"]
        for r in pagerank(edges, n_iters=10, reliable_dir=ckpt).collect()
    }
    assert reliable == default  # bit-identical, not approx

    # the loop actually wrote reliable checkpoint state (one rdd-*
    # subtree per truncation boundary, each with part files)
    written = []
    for root, _dirs, files in os.walk(ckpt):
        written += [os.path.join(root, f) for f in files if f.startswith("part-")]
    assert written, f"no checkpoint part files under {ckpt}"


def test_cc_star_honors_reliable_dir(spark, tmp_path):
    """connected_components(algorithm="star") truncates through the
    caller's reliable_dir like the label loop: checkpoint files land in
    the directory, and the labels equal a run without it."""
    import os

    from pagerank_mapreduce_implementation_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "src long, dst long"
    )

    def labels(**kw):
        out = connected_components(edges, algorithm="star", **kw)
        return {r.vertex: r.component for r in out.collect()}

    ckpt = str(tmp_path / "reliable")
    assert labels(reliable_dir=ckpt) == labels()
    written = [f for _root, _dirs, files in os.walk(ckpt) for f in files]
    assert written, f"no checkpoint files under {ckpt}"


def test_iteration_driver_reliable_dir_truncates_lineage(spark, tmp_path):
    """LoopScope(reliable_dir).iterate itself: state after a reliable
    truncation is a checkpoint scan (no growing lineage) and survives
    further iterations with correct values."""
    from pagerank_mapreduce_implementation_spark.plans.iterative import LoopScope

    state = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double")

    def step(df, i):
        from pyspark.sql import functions as F

        return df.select("id", (F.col("v") * 2.0).alias("v"))

    with LoopScope(str(tmp_path / "ck")) as scope:
        out = scope.keep(scope.iterate(state, step, n_iters=6))
    assert {r.id: r.v for r in out.collect()} == {1: 64.0, 2: 128.0}
    # the returned frame's plan reads the checkpoint, not the 6-step
    # lineage (Scan ExistingRDD / RDDScanExec at the root)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan


def test_hits_known_geometry(spark):
    """HITS on a tiny directed graph with an obvious hub/authority
    split: h -> {a1, a2, a3}, plus a stray edge a1 -> h. The fan-out
    vertex dominates hub scores, the fan-in targets dominate
    authority; duplicate edges count per occurrence."""
    from pagerank_mapreduce_implementation_spark.operators import graph

    edges = spark.createDataFrame(
        [("h", "a1"), ("h", "a2"), ("h", "a3"), ("a1", "h")],
        "src string, dst string",
    )
    out = {r.url: r for r in graph.hits(edges, n_iters=10).collect()}
    assert set(out) == {"h", "a1", "a2", "a3"}
    assert out["h"].hub == max(r.hub for r in out.values())
    assert out["h"].authority < out["a1"].authority
    assert abs(out["a2"].authority - out["a3"].authority) < 1e-12
    # a1 also gets hub mass (it links to h); a2/a3 link nowhere: hub 0
    assert out["a2"].hub == 0.0 and out["a1"].hub > 0.0
    # L2 norms are 1 after the final normalization
    import math

    assert abs(math.fsum(r.hub ** 2 for r in out.values()) - 1.0) < 1e-9
    assert abs(math.fsum(r.authority ** 2 for r in out.values()) - 1.0) < 1e-9
    # duplicate edge doubles the contribution: a1 pulls ahead of a2
    edges2 = edges.union(
        spark.createDataFrame([("h", "a1")], "src string, dst string")
    )
    out2 = {r.url: r for r in graph.hits(edges2, n_iters=10).collect()}
    assert out2["a1"].authority > out2["a2"].authority


def test_hits_matches_duckdb_oracle(spark, sf_dir):
    """Cross-engine parity of the full 10-iteration HITS over the real
    lineitem-derived edge set (the pagerank graph), rounded 6 — the
    pagerank_sql convention."""
    import duckdb

    from pagerank_mapreduce_implementation_spark import oracles
    from pagerank_mapreduce_implementation_spark.operators import graph
    from pyspark.sql import functions as F

    edges = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .crossJoin(
            spark.read.parquet(f"{sf_dir}/supplier.parquet")
            .agg(F.count("*").alias("ns"))
        )
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(
                F.lit("s"),
                (F.col("l_partkey") % (2 * F.col("ns")) + 1),
            ).alias("dst"),
        )
    )
    got = sorted(
        (r.url, round(r.hub, 6), round(r.authority, 6))
        for r in graph.hits(edges, n_iters=10).collect()
    )
    con = duckdb.connect()
    for t in ("lineitem", "supplier"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    want = sorted(tuple(r) for r in con.execute(oracles.hits_sql()).fetchall())
    assert got == want


class TestLabelPropagation:
    """graph.label_propagation — deterministic synchronous LPA."""

    def test_tiny_graph_semantics(self, spark):
        """Majority vote, smallest-label tie-break, duplicate-edge
        double vote, and keep-own for no-inbound vertices, all on one
        hand-checkable graph."""
        from pagerank_mapreduce_implementation_spark.operators import graph

        # a,b -> c (c ties between 'a','b' -> 'a'); d->e twice beats
        # f->e once; a has no in-edges (keeps 'a')
        edges = spark.createDataFrame(
            [("a", "c"), ("b", "c"), ("d", "e"), ("d", "e"), ("f", "e")],
            "src STRING, dst STRING",
        )
        out = {
            r["url"]: r["label"]
            for r in graph.label_propagation(edges, n_rounds=1).collect()
        }
        assert out["c"] == "a"      # tie 1-1 -> smallest label
        assert out["e"] == "d"      # 2 votes beat 1
        assert out["a"] == "a"      # no inbound: keep own
        assert out["d"] == "d" and out["f"] == "f" and out["b"] == "b"

    def test_synchronous_rounds_propagate(self, spark):
        """Labels travel one hop per round (synchronous): a chain
        x->y->z needs 2 rounds for x's label to reach z."""
        from pagerank_mapreduce_implementation_spark.operators import graph

        edges = spark.createDataFrame(
            [("x", "y"), ("y", "z")], "src STRING, dst STRING"
        )
        r1 = {
            r["url"]: r["label"]
            for r in graph.label_propagation(edges, n_rounds=1).collect()
        }
        assert r1 == {"x": "x", "y": "x", "z": "y"}
        r2 = {
            r["url"]: r["label"]
            for r in graph.label_propagation(edges, n_rounds=2).collect()
        }
        assert r2 == {"x": "x", "y": "x", "z": "x"}

    def test_zero_rounds_is_identity(self, spark):
        from pagerank_mapreduce_implementation_spark.operators import graph

        edges = spark.createDataFrame([("a", "b")], "src STRING, dst STRING")
        out = {
            r["url"]: r["label"]
            for r in graph.label_propagation(edges, n_rounds=0).collect()
        }
        assert out == {"a": "a", "b": "b"}


class TestTriangleCounts:
    """graph.triangle_counts — degree-oriented compact-forward."""

    def test_known_graph(self, spark):
        """K4 minus one edge: two triangles sharing an edge; the
        shared edge's endpoints count 2, the others 1. Duplicate and
        reversed edges collapse; self-loops drop; an isolated-pair
        vertex zero-fills."""
        from pagerank_mapreduce_implementation_spark.operators import graph

        edges = spark.createDataFrame(
            [
                ("a", "b"), ("b", "a"),          # duplicate + reverse
                ("a", "c"), ("b", "c"),
                ("a", "d"), ("b", "d"),
                ("c", "c"),                        # self-loop
                ("x", "y"),                        # triangle-free pair
            ],
            "src STRING, dst STRING",
        )
        out = {r["url"]: r["triangles"] for r in graph.triangle_counts(edges).collect()}
        assert out == {"a": 2, "b": 2, "c": 1, "d": 1, "x": 0, "y": 0}

    def test_matches_brute_force_on_corpus(self, spark, sf_dir):
        """Engine counts == driver-side brute force over the supplier
        graph (exercises degree orientation on a real degree
        distribution)."""
        import itertools

        import __spark_entry__ as entrymod
        from pagerank_mapreduce_implementation_spark.operators import graph

        edges = entrymod._edges(spark, sf_dir)
        got = {
            r["url"]: r["triangles"]
            for r in graph.triangle_counts(edges).collect()
        }
        adj = {}
        for r in edges.collect():
            u, v = r["src"], r["dst"]
            if u == v:
                continue
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        ref = {v: 0 for v in adj}
        for v, nbrs in adj.items():
            for x, y in itertools.combinations(sorted(nbrs), 2):
                if y in adj.get(x, ()):  # noqa: SIM118
                    ref[v] += 1
        ref = {v: c // 1 for v, c in ref.items()}
        assert got == ref


class TestBfsDistances:
    """graph.bfs_distances — fixed-round multi-source frontier BFS."""

    def _run(self, spark, edges, sources, n_rounds):
        from pagerank_mapreduce_implementation_spark.operators import graph

        df = spark.createDataFrame(edges, "src STRING, dst STRING")
        return {
            r["url"]: r["dist"]
            for r in graph.bfs_distances(df, sources, n_rounds=n_rounds).collect()
        }

    def test_chain_one_hop_per_round(self, spark):
        edges = [("a", "b"), ("b", "c"), ("c", "d")]
        assert self._run(spark, edges, ["a"], 2) == {"a": 0, "b": 1, "c": 2}
        assert self._run(spark, edges, ["a"], 3) == {"a": 0, "b": 1, "c": 2, "d": 3}

    def test_multi_source_takes_nearest(self, spark):
        edges = [("a", "b"), ("b", "c"), ("c", "d"), ("e", "d")]
        out = self._run(spark, edges, ["a", "e"], 6)
        assert out == {"a": 0, "e": 0, "b": 1, "d": 1, "c": 2}

    def test_directionality(self, spark):
        out = self._run(spark, [("a", "b")], ["b"], 3)
        assert out == {"b": 0}

    def test_cycle_terminates_without_duplicates(self, spark):
        out = self._run(spark, [("a", "b"), ("b", "a")], ["a"], 4)
        assert out == {"a": 0, "b": 1}

    def test_zero_rounds_only_sources(self, spark):
        assert self._run(spark, [("a", "b")], ["a"], 0) == {"a": 0}

    def test_absent_source_still_reports_zero(self, spark):
        """A source vertex not present in the edge list is still a
        search origin (dist 0) — the oracle's d0 is unconditional on
        both sides, so this is the documented contract."""
        out = self._run(spark, [("a", "b")], ["zz"], 2)
        assert out == {"zz": 0}

    def test_parameter_guards(self, spark):
        from pagerank_mapreduce_implementation_spark.operators import graph

        df = spark.createDataFrame([("a", "b")], "src STRING, dst STRING")
        with pytest.raises(ValueError):
            graph.bfs_distances(df, [], n_rounds=2)
        with pytest.raises(ValueError):
            graph.bfs_distances(df, ["a"], n_rounds=-1)


class TestKcore:
    """graph.kcore — synchronous fixed-round k-core peeling."""

    def _run(self, spark, edges, k, n_rounds):
        from pagerank_mapreduce_implementation_spark.operators import graph

        df = spark.createDataFrame(edges, "src STRING, dst STRING")
        return {
            r["url"]: r["degree"]
            for r in graph.kcore(df, k=k, n_rounds=n_rounds).collect()
        }

    def test_pendant_peeled_triangle_survives(self, spark):
        edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")]
        assert self._run(spark, edges, 2, 3) == {"a": 2, "b": 2, "c": 2}

    def test_cascade_one_layer_per_round(self, spark):
        """A tail hanging off a triangle peels one vertex per round
        (synchronous deletions see the same degree snapshot)."""
        edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "t1"), ("t1", "t2")]
        r1 = self._run(spark, edges, 2, 1)  # t2 (deg 1) gone; t1 now deg 1
        assert set(r1) == {"a", "b", "c", "t1"} and r1["t1"] == 1
        r2 = self._run(spark, edges, 2, 2)
        assert set(r2) == {"a", "b", "c"}
        assert self._run(spark, edges, 2, 2) == self._run(spark, edges, 2, 5)

    def test_duplicates_directions_self_loops_collapse(self, spark):
        edges = [("a", "b"), ("b", "a"), ("a", "b"), ("c", "c")]
        assert self._run(spark, edges, 1, 2) == {"a": 1, "b": 1}
        assert self._run(spark, edges, 2, 2) == {}

    def test_parameter_guards(self, spark):
        from pagerank_mapreduce_implementation_spark.operators import graph

        df = spark.createDataFrame([("a", "b")], "src STRING, dst STRING")
        with pytest.raises(ValueError):
            graph.kcore(df, k=0)
        with pytest.raises(ValueError):
            graph.kcore(df, k=2, n_rounds=-1)
