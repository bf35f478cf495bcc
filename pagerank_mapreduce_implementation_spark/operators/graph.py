"""Iterative PageRank over an edge DataFrame (O5, O9-O18 of SURVEY.md §2).

Reference semantics (``reference parity`` mode, the default) recovered
from PageRank.java:

- seed rank = 1/numOfLines where numOfLines counts ALL non-empty input
  lines — including titleless/unparseable junk lines, not just parsed
  pages (PageRank.java:344-349,378). ``pagerank()`` defaults to seeding
  from the VERTEX count (equal on clean corpora: one titled page per
  line); callers needing strict parity on dirty corpora pass the line
  count via ``seed_count`` (``programs.run_pagerank`` does).
- new rank  = 0.15 + 0.85 * sum(contributions)   (PageRank.java:523)
  — NON-normalized damping: the constant term is 0.15, not (1-d)/N.
- each page scatters rank/|outlinks| to every outlink OCCURRENCE
  (duplicates included)                          (PageRank.java:454-468)
- dangling pages (no outlinks) scatter nothing — their mass is lost
  (no dangling redistribution)                   (PageRank.java:454 guard)
- "red links" (targets with no page of their own) receive contributions
  but are dropped from the output; only real pages are emitted
  (``hasOriginalPRAndOutlinkList``)              (PageRank.java:493,515,527)
- a page with no inbound links still gets rank 0.15 + 0.85*0
  (its own pass-through record reaches the reducer, PageRank.java:472,527)
- fixed 10 iterations, no convergence test       (PageRank.java:190)

``mode="textbook"`` instead computes the standard normalized PageRank:
rank' = (1-d)/N + d * (sum(contrib) + dangling_mass/N), which keeps the
rank vector a probability distribution.

Scale design (100 TB posture):
- graph state is ROWS (src,dst edges), never packed strings or arrays:
  explode-free, and the out-degree join is a plain shuffle-on-src.
- ``links`` (edges + out_degree) is repartitioned by its join key ONCE
  and persisted; every iteration's join reuses that partitioning, so
  per-iteration shuffles are only (a) rank vector -> src partitioning
  and (b) contributions groupBy(dst). The big static table never
  re-shuffles.
- partial aggregation (map-side combine) on the contribution sum is
  automatic via HashAggregateExec — the reference shipped the full
  shuffle volume (no combiner, SURVEY.md §4).
- the rank vector (2 cols x |V|) is orders of magnitude smaller than
  the edge table; lineage is truncated by the loop scope.

Cache-lifecycle discipline: every loop runs in one
``plans.iterative.LoopScope``, which persists its inputs, truncates its
state (local checkpoints, reliable ones under ``reliable_dir``) and on
exit, exception included, releases every cache and every checkpoint the
returned frame does not read — the reference's (i-2)th-directory GC
(PageRank.java:222-228) in one place. A result is materialized or reads
only the scope's checkpoints; ``util.release_result`` frees it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_mapreduce_implementation_spark.plans.iterative import (
    MATERIALIZE_EVERY,
    LoopScope,
)

DAMPING = 0.85

# broadcast a BFS frontier / accumulated-state side (or any loop's
# vertex-sized vector) only while its EXACT materialized row count stays
# under this (~10-20 MB of string vertex ids — inside the default
# 10 MB-ish executor comfort zone); beyond it the joins degrade to
# shuffles, still bounded by the frontier ball / vertex count
_BFS_BROADCAST_ROWS = 500_000

# Loop-width target: ~2 MB of pruned-scan estimate (~250k (src,dst)
# rows) per loop partition — coarse enough that 10x-repeated stage
# launch overhead stays <10% of task compute, fine enough to spread a
# growing graph; the shuffle-partition cap takes over long before
# cluster scale.
_LOOP_PARTITION_BYTES = 2 * 1024 * 1024


def _shuffle_width(spark) -> int:
    """``spark.sql.shuffle.partitions``: the width of explicit repartitions."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's plan-time size estimate for ``df`` in bytes, or None.

    Reads ``queryExecution().optimizedPlan().stats().sizeInBytes()``
    through py4j — a PRIVATE surface (no public PySpark API exposes
    plan statistics), so any Spark minor bump may break it. Callers
    must treat None as "unknown" and fall back to a conf-derived
    width; the estimate is an optimization, never a correctness input.
    """
    try:
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return None


def degree_histogram(edges: DataFrame) -> DataFrame:
    """Out-degree DISTRIBUTION of a link graph — the skew profile you
    read BEFORE running PageRank at scale: ``(out_degree, n_vertices)``,
    duplicate edges counted exactly as the scatter does, degree-0
    vertices (dangling sinks) reported as the zero row. The fat tail
    is what makes the scatter EMIT-side expensive (one row per
    outlink).

    Shape: degree agg -> tiny histogram agg; the zero row comes from
    two SCALAR counts (distinct vertices minus scoring keys)
    broadcast-crossed — no vertex-sized anti-join. Nothing here is
    edge-quadratic; both aggregations are keys the PageRank loop
    shuffles on anyway.
    """
    od = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_degree"))
    hist = od.groupBy("out_degree").agg(F.count(F.lit(1)).alias("n_vertices"))
    verts = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    nv = verts.agg(F.count(F.lit(1)).alias("__nv"))
    ns = od.agg(F.count(F.lit(1)).alias("__ns"))
    zero = (
        nv.crossJoin(F.broadcast(ns))
        .select(
            F.lit(0).cast("long").alias("out_degree"),
            (F.col("__nv") - F.col("__ns")).alias("n_vertices"),
        )
        .filter(F.col("n_vertices") > 0)
    )
    return hist.unionByName(zero)


def pagerank(
    edges: DataFrame,
    n_iters: int = 10,
    mode: str = "reference",
    vertices: DataFrame | None = None,
    seed_count: int | None = None,
    weight_col: str | None = None,
    reset: DataFrame | None = None,
    reliable_dir: str | None = None,
) -> DataFrame:
    """PageRank over (src, dst) edges.

    Returns ``(url, rank)``. ``mode="reference"`` reproduces the
    reference's quirks exactly (see module docstring); ``"textbook"``
    is standard normalized PageRank with dangling-mass redistribution.

    ``vertices`` (a 1-column ``url`` DataFrame) overrides the default
    vertex set (distinct edge src). Pass it when the graph has dangling
    pages: they emit no edges, but the reference keeps them as vertices
    via the self-record pass-through (PageRank.java:472,527) — deriving
    vertices from src alone would drop them.

    ``seed_count`` overrides the N in the 1/N seed rank. The reference
    seeds 1/numOfLines (all non-empty input lines, junk included,
    PageRank.java:344-349,378); default None seeds 1/|vertices|, equal
    on corpora with one titled page per line.

    ``weight_col`` names an edge weight column: each edge scatters
    ``rank(src) * w / sum_w(src)`` instead of ``rank(src) /
    out_degree(src)``. Weights should be non-negative; a source whose
    weights sum to 0 scatters nothing (it is dangling, exactly like a
    source with no edges). ``weight_col=None`` is the uniform case —
    bit-identical to the unweighted plan (w=1.0: the scatter multiplies
    by exactly 1 and sum(1.0)==count).

    ``reset`` personalizes the teleport: a ``(url, reset)`` DataFrame
    (probabilities, normally summing to 1; urls absent from it get 0).
    When given it also seeds rank₀ = reset(u) and overrides
    ``seed_count``. The teleport term becomes, per vertex:
    textbook — ``(1-d)*reset(u)`` with dangling mass redistributed as
    ``d*mass*reset(u)`` (standard personalized PageRank); reference —
    ``(1-d)*N*reset(u)``, so the uniform vector reset=1/N reproduces
    the reference's flat ``0.15`` constant exactly. The reset column
    rides the SAME per-iteration shuffle as the zero-contribution
    tagged rows — personalization adds no join and no extra exchange.
    """
    if mode not in ("reference", "textbook"):
        raise ValueError(f"unknown mode {mode!r}")
    spark = edges.sparkSession

    # Static per-iteration join input: one row per edge occurrence with
    # the source's out-degree attached. The input is shuffled on src
    # exactly ONCE; out-degree, the degree join, and the vertex set all
    # reuse that partitioning (no further exchanges — check .explain():
    # one Exchange total in the links build). At 100 TB this is the
    # difference between 1 and 4 passes over the edge table.
    #
    # Width: size the loop from Catalyst's PLAN-TIME size estimate
    # (file statistics x column pruning — zero jobs, no pre-pass scan
    # of the edge table; the verdict-flagged count() pre-pass was an
    # extra full read of the biggest table before any work). An iterative loop wants
    # moderately coarse tasks: per-iteration stage launch costs are
    # paid 10x, so ~250k edge rows (~2 MB of pruned scan estimate) per
    # task amortizes them, while the cap at the configured shuffle
    # partitions keeps a 100 TB edge table fanned out to full cluster
    # width. AQE alone gets this wrong in both directions on a small
    # input (A/B-measured at sf0.1): parallelismFirst=true pins the
    # persisted links table to core-count width (32 near-empty cache
    # partitions re-joined 10x), =false coalesces 600k rows to ONE
    # task (serializing the scatter join).
    cap = _shuffle_width(spark)
    est_bytes = _plan_size_bytes(edges)
    if est_bytes is None:
        # Private stats surface unavailable (Spark internals moved):
        # fall back to full configured shuffle width — over-fanning
        # a small graph costs stage-launch overhead only, while
        # under-fanning a big one would serialize the loop.
        num_partitions = cap
    else:
        num_partitions = max(1, min(cap, 1 + est_bytes // _LOOP_PARTITION_BYTES))
    with LoopScope(reliable_dir) as scope:
        if weight_col is not None:
            # weighted scatter: out_degree becomes sum(w) per src; a source
            # whose weights sum to 0 scatters nothing — filtered here, so it
            # behaves exactly like an edgeless (dangling) source and leaves
            # the DEFAULT vertex set (pass ``vertices`` to keep it).
            part = edges.select(
                "src", "dst", F.col(weight_col).cast("double").alias("__w")
            ).repartition(num_partitions, "src")
            deg = part.groupBy("src").agg(F.sum("__w").alias("out_degree"))
            links = scope.persist(
                part.join(deg, "src").filter(F.col("out_degree") != 0.0)
            )
        else:
            # no persist on the pre-join side: deg and the join both read
            # the SAME repartition exchange, and shuffle-stage reuse already
            # computes it once inside the single materializing job below
            part = edges.repartition(num_partitions, "src")
            deg = part.groupBy("src").agg(F.count(F.lit(1)).alias("out_degree"))
            links = scope.persist(part.join(deg, "src"))
        derived_vertices = vertices is None
        if vertices is None:
            # ONE materializing job for the persisted links AND the vertex
            # count (the former links.count() + vertices.count() pair paid
            # two passes): n = distinct scatter sources == the loop's
            # vertex count. O5 count-all + O9 scalar broadcast (a literal).
            n = int(
                links.agg(F.count_distinct("src").alias("nv")).first()["nv"]
            )
            vertices = links.select(F.col("src").alias("url")).distinct()
            vertices = scope.persist(vertices.coalesce(num_partitions))
        else:
            links.count()
            vertices = vertices.select("url").distinct()
            # keep the tiny vertex vector at the loop width (pinned or derived)
            vertices = scope.persist(vertices.coalesce(num_partitions))
            n = vertices.count()
        if n == 0:
            return spark.createDataFrame([], "url string, rank double")

        # Personalization: align the reset vector to the vertex set once
        # (absent urls -> 0) and persist it at loop width. Seeding from the
        # reset vector is the standard personalized-PageRank start.
        use_reset = reset is not None
        if use_reset:
            # sanitize like ``vertices``: duplicate urls in the caller's
            # reset vector would otherwise duplicate vertex rows and double
            # their seed/teleport mass silently — aggregate the mass per
            # url instead (duplicates legitimately arise from un-deduped
            # seed lists; summing preserves total teleport probability)
            reset_clean = reset.groupBy("url").agg(
                F.sum(F.col("reset").cast("double")).alias("reset")
            )
            rvec = scope.persist(
                vertices.join(reset_clean, "url", "left")
                .select("url", F.coalesce("reset", F.lit(0.0)).alias("reset"))
                .coalesce(num_partitions)
            )
            ranks = rvec.select("url", F.col("reset").alias("rank"))
        else:
            ranks = vertices.select(
                "url",
                F.lit(1.0 / (seed_count if seed_count is not None else n)).alias("rank"),
            )

        # Textbook mode: the set of dangling vertices is STATIC — compute it
        # once from the persisted links table (vertices minus scatter
        # sources) instead of anti-joining against deg inside the loop,
        # whose lineage would re-shuffle the full edge table every
        # iteration. When the set is EMPTY (every vertex scatters — always
        # true when vertices derive from links), the whole dangling branch
        # is skipped: the mass is exactly 0.0 every iteration, and dropping
        # the +0.0 terms is bit-identical while saving a second reference
        # to the lazy rank chain per step (measured ~2s of 7s at sf0.1).
        dangling_vs = None
        if mode == "textbook":
            dangling_vs = scope.persist(
                vertices.join(links.select(F.col("src").alias("url")), "url", "left_anti")
            )
            if dangling_vs.count() == 0:
                dangling_vs = None

        # O14/O17 without a second join: a zero-contribution row tagged
        # ``own=1`` per vertex rides the SAME shuffle as the contributions.
        # After groupBy(url): red links have max(own)=0 -> dropped; vertices
        # with no inbound keep sum=0 -> rank (1-d). One shuffle per
        # iteration instead of shuffle+join (the reference's tagged-union
        # repartition join, PageRank.java:472-473,509-517, done Spark-side).
        # With a reset vector the per-vertex teleport weight rides the
        # zero-contribution rows (max() over the group recovers it after
        # the shuffle) — personalization costs NO extra join or exchange.
        if use_reset:
            zero = rvec.select(
                "url", F.lit(0.0).alias("contrib"), F.lit(1).alias("own"), "reset"
            )
        else:
            zero = vertices.select(
                "url", F.lit(0.0).alias("contrib"), F.lit(1).alias("own")
            )

        scatter = (
            (F.col("rank") * F.col("__w") / F.col("out_degree"))
            if weight_col is not None
            else (F.col("rank") / F.col("out_degree"))
        )

        # r17, the hits/lpa/bfs "driver-adaptive join strategy" move applied
        # here too: the iterated rank vector is a checkpointed frame and
        # carries NO stats, so the planner can't see it is vertex-sized and
        # falls back to shuffling it against the links partitioning every
        # iteration. The exact vertex count n is already in hand — while it
        # is broadcastable, hint the rank side into the scatter join (zero
        # rank-vector shuffle per iteration); past the threshold the hint
        # drops away and the co-partitioned join takes over unchanged.
        small_ranks = n <= _BFS_BROADCAST_ROWS

        def _rvec(v: DataFrame) -> DataFrame:
            return F.broadcast(v) if small_ranks else v

        # Uniform seed value (non-reset modes): iteration 1's rank vector
        # is this CONSTANT, so its scatter join folds to a literal.
        seed_rank = 1.0 / (seed_count if seed_count is not None else n)

        def step(ranks: DataFrame, _i: int) -> DataFrame:
            # O13 scatter: contribution = rank(src)/out_degree(src) per edge
            # occurrence (rank*w/sum_w when weighted). links is
            # pre-partitioned on src; the rank vector arrives
            # hash-partitioned on url from the previous groupBy, so this
            # join re-shuffles at most the small rank side (or AQE
            # broadcasts it when it fits).
            contrib_cols = [
                F.col("dst").alias("url"),
                scatter.alias("contrib"),
                F.lit(0).alias("own"),
            ]
            if use_reset:
                contrib_cols.append(F.lit(None).cast("double").alias("reset"))
            # LoopScope.iterate indexes iterations 1-based (range(1, n+1))
            if _i == 1 and not use_reset and derived_vertices:
                # First-iteration fusion: every rank is the SAME 1/N seed —
                # substituting the literal for the join is bit-identical
                # (identical double arithmetic) and saves the loop's first
                # rank-side shuffle entirely. Only valid when the vertex set
                # derives from links (src-set == vertex-set by construction);
                # an explicit smaller ``vertices`` legitimately FILTERS
                # scatter sources through this join, which a literal cannot.
                contribs = links.withColumn("rank", F.lit(seed_rank)).select(
                    *contrib_cols
                )
            else:
                contribs = links.join(
                    _rvec(ranks.withColumnRenamed("url", "src")), "src"
                ).select(*contrib_cols)
            # O15 gather: map-side partial agg, final agg on url.
            aggs = [F.sum("contrib").alias("contrib_sum"), F.max("own").alias("own")]
            if use_reset:
                aggs.append(F.max("reset").alias("reset"))
            sums = contribs.unionByName(zero).groupBy("url").agg(*aggs)
            if mode == "reference":
                # personalized reference teleport (1-d)*N*reset(u): the
                # uniform vector reset=1/N reproduces the flat 0.15 constant
                const = (
                    F.lit((1.0 - DAMPING) * n) * F.col("reset")
                    if use_reset
                    else F.lit(1.0 - DAMPING)
                )
                return sums.filter(F.col("own") == 1).select(
                    "url",
                    (const + F.lit(DAMPING) * F.col("contrib_sum")).alias("rank"),
                )
            # textbook: redistribute dangling mass, normalize constant by N.
            # The mass is a broadcast 1-row aggregate (scalar subquery), NOT
            # a driver-side collect — a collect would force a full
            # recomputation of the lazy rank chain every iteration.
            if dangling_vs is None:
                # no dangling vertices: mass is exactly 0.0 — drop the +0.0
                # terms (bit-identical) and, crucially, the step's SECOND
                # reference to the lazy rank chain.
                if use_reset:
                    new_rank = F.lit(1.0 - DAMPING) * F.col("reset") + F.lit(
                        DAMPING
                    ) * F.col("contrib_sum")
                else:
                    new_rank = F.lit((1.0 - DAMPING) / n) + F.lit(DAMPING) * F.col(
                        "contrib_sum"
                    )
                return sums.filter(F.col("own") == 1).select(
                    "url", new_rank.alias("rank")
                )
            dangling = (
                ranks.join(dangling_vs, "url", "left_semi")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling_mass"))
            )
            if use_reset:
                # standard personalized PageRank: teleport AND dangling
                # mass land on vertices in reset-vector proportion
                new_rank = F.lit(1.0 - DAMPING) * F.col("reset") + F.lit(DAMPING) * (
                    F.col("contrib_sum") + F.col("dangling_mass") * F.col("reset")
                )
            else:
                new_rank = F.lit((1.0 - DAMPING) / n) + F.lit(DAMPING) * (
                    F.col("contrib_sum") + F.col("dangling_mass") / n
                )
            return (
                sums.filter(F.col("own") == 1)
                .crossJoin(F.broadcast(dangling))
                .select("url", new_rank.alias("rank"))
            )

        # textbook mode references ranks twice per step (contribs +
        # dangling); the dangling branch recomputes at most
        # MATERIALIZE_EVERY-1 lazy iterations, which A/B-measures cheaper
        # than eagerly materializing every step (8.6s -> 6.4s at sf0.1).
        # reliable_dir switches the lineage truncation from executor-local
        # checkpoint blocks to RELIABLE checkpoints in that directory —
        # the preemptible-cluster mode: a lost executor replays from the
        # persisted state, not from iteration 0 (tests/test_pagerank.py
        # pins value parity + on-disk checkpoint files).
        # The result is the final boundary's checkpoint; the scope drops
        # the static tables and every earlier checkpoint on exit (the
        # reference GC'd intermediate dirs the same way,
        # PageRank.java:222-228,308-327).
        result = scope.iterate(ranks, step, n_iters)
        return scope.keep(result)


def edges_from_pages(pages: DataFrame) -> DataFrame:
    """(url, outlinks) pages -> (src, dst) edge occurrences (O13's
    explode; duplicates preserved — each occurrence scatters rank,
    PageRank.java:454-468). Dangling pages contribute no edges but DO
    remain vertices only if they appear as src — callers needing
    dangling vertices in the vertex set should union them explicitly
    (the reference keeps them via the self-record pass-through, O14)."""
    return pages.select(
        F.col("url").alias("src"), F.explode("outlinks").alias("dst")
    )


def rank_descending(ranks: DataFrame, limit: int | None = None) -> DataFrame:
    """O19-O21 + O30: global descending sort by rank.

    The reference forces a single reducer for total order
    (PageRank.java:276) — Spark's orderBy range-partitions (sampled
    boundaries) and sorts in parallel. ``url`` breaks ties
    deterministically (the reference's tie order is arbitrary,
    PageRank.java:552-563). With ``limit``, Catalyst plans
    TakeOrderedAndProject — no global sort materialized at all.
    """
    out = ranks.orderBy(F.desc("rank"), F.asc("url"))
    if limit is not None:
        out = out.limit(limit)
    return out


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iters: int = 20,
    algorithm: str = "label",
    reliable_dir: str | None = None,
) -> DataFrame:
    """Connected components: ``(vertex, component)`` where component =
    the smallest vertex id reachable from ``vertex`` (undirected).

    ``algorithm="label"`` (default) is min-label propagation: each
    iteration sends every vertex's current label across both edge
    directions and keeps the minimum — one join + one groupBy-min
    shuffle per iteration, converging in O(diameter) rounds. The loop
    reuses ``LoopScope.iterate``'s convergence path: it stops as soon as an
    iteration changes no label (an anti-join count on the materialized
    state, the same move as the reference's chained-job success gate).
    Right for DUP-CLUSTER graphs (near-dup pairs from minhash/simhash/
    embedding passes): components are tiny, diameter is small.

    ``algorithm="star"`` is alternating large-star/small-star (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    the web-scale path: each round REWRITES the edge set toward stars
    centered at component minima, so convergence is O(log^2 n) rounds
    regardless of diameter (a billion-edge chain graph finishes in ~a
    dozen rounds where label propagation needs diameter rounds). Same
    shuffle primitives (groupBy-min + join), strictly fewer rounds on
    long-chain graphs; both algorithms return identical labels.

    A graph that does not converge within ``max_iters`` raises
    ``RuntimeError`` and leaves nothing pinned.
    """
    if algorithm == "star":
        return _cc_star(edges, src_col, dst_col, max_iters, reliable_dir)
    if algorithm != "label":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    bidir = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).unionByName(
        edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v"))
    )
    fixed = {"converged": False}

    def converged(prev: DataFrame, cur: DataFrame) -> bool:
        # both sides are materialized by the driver at every check
        ok = (
            cur.join(
                prev.withColumnRenamed("component", "prev_component"), "vertex"
            )
            .filter(F.col("component") != F.col("prev_component"))
            .isEmpty()
        )
        fixed["converged"] = ok
        return ok

    with LoopScope(reliable_dir) as scope:
        bidir = scope.persist(bidir.repartition("u"))
        labels = (
            bidir.select(F.col("u").alias("vertex"))
            .distinct()
            .select("vertex", F.col("vertex").alias("component"))
        )

        def step(lbl: DataFrame, _i: int) -> DataFrame:
            msgs = (
                bidir.join(lbl.withColumnRenamed("vertex", "u"), "u")
                .select(F.col("v").alias("vertex"), "component")
            )
            return (
                msgs.unionByName(lbl)
                .groupBy("vertex")
                .agg(F.min("component").alias("component"))
            )

        out = scope.iterate(labels, step, max_iters, converged=converged)
        if not fixed["converged"]:
            # returning unconverged labels would silently split one true
            # component into several (a >max_iters-diameter chain) — fail
            # loudly instead; the caller raises max_iters
            raise RuntimeError(
                f"connected_components did not converge within {max_iters} "
                "iterations — the graph diameter exceeds max_iters; raise it"
            )
        return scope.keep(out)


def _cc_star(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    max_iters: int,
    reliable_dir: str | None,
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al. SoCC'14) — see ``connected_components(algorithm="star")``.

    State is the EDGE set itself, kept canonical as ``(hi, lo)`` with
    lo < hi. One round:

    - **large-star**: per vertex u over its full (symmetrized)
      neighborhood N, m = min(N ∪ {u}); every LARGER neighbor v > u is
      re-pointed at m — long chains collapse toward minima from both
      ends at once. One groupBy-min + one join.
    - **small-star**: per vertex u over its SMALLER neighbors (lo side
      of canonical edges), m = min; every smaller neighbor and u
      itself point at m — stars flatten so minima become the only hubs.
      One groupBy-min + one join.

    Both phases only ever emit (x, m) with m < x, so the edge set stays
    canonical without re-normalization. Convergence = the edge set is
    a fixed point (checked exactly: equal counts + empty anti-join —
    both sides are materialized localCheckpoints, so the check costs
    one small join, not a recompute). At the fixed point every edge
    connects a vertex directly to its component minimum, so the labels
    fall out of the final edge list; component minima themselves and
    never-appearing (isolated) inputs label as self.
    """
    with LoopScope(reliable_dir) as scope:
        e = scope.truncate(
            edges.select(
                F.greatest(F.col(src_col), F.col(dst_col)).alias("hi"),
                F.least(F.col(src_col), F.col(dst_col)).alias("lo"),
            )
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
        )
        # original vertex universe — self-loop-only / isolated vertices
        # must still label as themselves in the output
        vertices = scope.truncate(
            edges.select(F.col(src_col).alias("vertex"))
            .unionByName(edges.select(F.col(dst_col).alias("vertex")))
            .distinct()
        )
        e_count = e.count()
        for _ in range(max_iters):
            # large-star over the symmetrized neighborhood
            bidir = e.select(
                F.col("hi").alias("u"), F.col("lo").alias("v")
            ).unionByName(e.select(F.col("lo").alias("u"), F.col("hi").alias("v")))
            mins = bidir.groupBy("u").agg(F.min("v").alias("mv"))
            # m = min(N ∪ {u}); edges (v, m) for v > u — m <= u < v keeps
            # the canonical orientation for free
            large = (
                bidir.join(mins, "u")
                .filter(F.col("v") > F.col("u"))
                .select(
                    F.col("v").alias("hi"),
                    F.least(F.col("u"), F.col("mv")).alias("lo"),
                )
                .distinct()
            )
            # small-star over the canonical (smaller-neighbor) lists
            mins2 = large.groupBy("hi").agg(F.min("lo").alias("mv"))
            joined = large.join(mins2, "hi")
            e_new = scope.truncate(
                joined.filter(F.col("lo") != F.col("mv"))
                .select(F.col("lo").alias("hi"), F.col("mv").alias("lo"))
                .unionByName(mins2.select("hi", F.col("mv").alias("lo")))
                .filter(F.col("hi") != F.col("lo"))
                .distinct()
            )
            # exact fixed-point check on the two materialized sets (counts
            # carried in python — equal counts is the cheap necessary
            # condition that gates the anti-join confirmation)
            e_new_count = e_new.count()
            fixed = e_new_count == e_count and e_new.join(
                e, ["hi", "lo"], "left_anti"
            ).isEmpty()
            e, e_count = e_new, e_new_count
            if fixed:
                break
        else:
            raise RuntimeError(
                f"connected_components(star) did not converge within {max_iters} "
                "rounds — raise max_iters (expected O(log^2 n) rounds)"
            )
        member_labels = e.select(
            F.col("hi").alias("vertex"), F.col("lo").alias("component")
        ).distinct()
        centers = vertices.join(member_labels, "vertex", "left_anti").select(
            "vertex", F.col("vertex").alias("component")
        )
        return scope.keep(member_labels.unionByName(centers))


def hits(edges: DataFrame, n_iters: int = 10) -> DataFrame:
    """Kleinberg's HITS over ``(src, dst)`` edges: ``(url, hub,
    authority)`` after ``n_iters`` full iterations (the natural
    companion to the reference's PageRank — authority flows along
    links, hub credit flows back), L2-normalized after each
    half-step, duplicate edges contributing per occurrence (the
    ``pagerank`` scatter convention).

    Per iteration: ``auth_raw(v) = Σ hub(u)`` over in-edges, normalize;
    ``hub_raw(u) = Σ auth(v)`` over out-edges, normalize. Vertices =
    src ∪ dst (both endpoints score); a vertex with no in-edges holds
    authority 0, no out-edges hub 0; zero norms (empty graph edge
    case) yield all-zero scores rather than NaN.

    Scale shape, the ``pagerank`` contract applied twice: the edge
    table is shuffled ONCE per join key — a src-partitioned and a
    dst-partitioned persisted copy — so each iteration's two joins
    re-shuffle only the vertex-sized score vectors, never the edges;
    score updates are groupBy sums with map-side partial aggregation.

    The L2 normalize is a HARD barrier if taken literally (the norm
    needs the full raw vector before any division), and leaving it as
    a lazy broadcast subplan re-executes the whole upstream lineage
    once per consumer — multiplicative blowup across iterations
    (measured 62 s for 10 iterations at sf0.1). But the normalizer is
    a positive SCALAR, and every update is linear in the scores, so
    scalars factor straight through the sums: the half-step-normalized
    sequence equals the unnormalized sequence up to a per-vector
    scalar. We therefore iterate UNNORMALIZED — per-half-step
    normalization deferred to one final normalize — which makes the
    loop barrier-free and chainable exactly like ``pagerank``. To keep
    magnitudes bounded (raw scores grow by up to the edge count per
    half-step), each checkpoint (every second iteration, and the last)
    rescales the hub vector to unit L2 via a 1-row aggregate over the
    just-cached blocks folded to a plan-time literal (the
    seed/dangling-mass literal pattern) — identity-preserving, and a
    double stays exact to 1e±308 so a 2-iteration chain (growth ≲
    |E|^4) is far inside range. Zero norm (empty / dead graph) pins
    the vector to 0.0 from that point, matching the oracle's CASE.

    The loop further borrows two ``pagerank`` moves. (1) SUPPORT-ONLY
    vectors: a vertex with no in-edges holds authority 0 and
    contributes 0 through every sum, so zero rows are dropped from the
    iterated vectors (zeros change neither the sums nor the L2 norms)
    and the full vertex set is zero-filled ONCE at the end — this
    deletes both per-iteration vertices joins. (2) First-iteration
    literal fusion: hub_0 is the constant 1.0, so iteration 1's scatter
    substitutes the literal for the join (bit-identical). State between
    iterations is the hub vector alone — authority is derived inside
    the step and only the final iteration's is kept. Cost per
    iteration: exactly two vertex-bounded shuffles (the two gather
    groupBys, map-side partial agg), probing the two cached edge
    copies. Measured 62 s → ~6 s for 10 iterations at sf0.1.
    """
    with LoopScope() as scope:
        e = scope.persist(edges.select("src", "dst"))  # ONE source scan
        vertices = scope.persist(
            e.select(F.col("src").alias("url"))
            .union(e.select(F.col("dst").alias("url")))
            .distinct()
        )
        # driver-adaptive join strategy on the EXACT vertex count (the
        # bfs_distances move): score vectors are vertex-sized, so while
        # |V| is broadcastable each half-step joins the cached edge copy
        # against a broadcast vector — no edge repartition copies, no
        # per-iteration edge sort (the SMJ the stats-less checkpointed
        # vectors otherwise force). Past the threshold, fall back to the
        # two partitioned edge copies so iterations re-shuffle only the
        # vertex-sized vectors. The vertices distinct is needed for the
        # final zero-fill anyway — counting the persisted frame is free.
        small = vertices.count() <= _BFS_BROADCAST_ROWS
        if small:
            links_src = links_dst = e
        else:
            nparts = _shuffle_width(edges.sparkSession)
            links_src = scope.persist(e.repartition(nparts, "src"))
            links_dst = scope.persist(e.repartition(nparts, "dst"))

        def _vec(v: DataFrame) -> DataFrame:
            return F.broadcast(v) if small else v

        if n_iters < 1:
            return vertices.select(
                "url", F.lit(1.0).alias("hub"), F.lit(0.0).alias("authority")
            ).localCheckpoint(eager=True)

        def unit(vec: DataFrame, col: str) -> DataFrame:
            """Scale a MATERIALIZED support vector to unit L2 — the norm
            is a 1-row aggregate over cached blocks folded to a literal."""
            nrm = vec.agg(F.sqrt(F.sum(F.col(col) * F.col(col)))).first()[0]
            if nrm and nrm > 0:
                return vec.select(
                    "url", (F.col(col) / F.lit(float(nrm))).alias(col)
                )
            return vec.select("url", F.lit(0.0).alias(col))

        hub: DataFrame | None = None
        auth: DataFrame | None = None
        for i in range(1, n_iters + 1):
            if i == 1:
                contribs = links_src.withColumn("hub", F.lit(1.0))
            else:
                contribs = links_src.join(
                    _vec(hub.withColumnRenamed("url", "src")), "src"
                )
            a = contribs.groupBy(F.col("dst").alias("url")).agg(
                F.sum("hub").alias("authority")
            )
            if i == n_iters:
                a = auth = scope.truncate(a)
            hub = (
                links_dst.join(_vec(a.withColumnRenamed("url", "dst")), "dst")
                .groupBy(F.col("src").alias("url"))
                .agg(F.sum("authority").alias("hub"))
            )
            if i % MATERIALIZE_EVERY == 0 or i == n_iters:
                hub = unit(scope.truncate(hub), "hub")
        # materialized, so the scope may drop every cache and checkpoint
        # the zero-fill join reads
        return (
            vertices.join(unit(auth, "authority"), "url", "left")
            .join(hub, "url", "left")
            .select(
                "url",
                F.coalesce("hub", F.lit(0.0)).alias("hub"),
                F.coalesce("authority", F.lit(0.0)).alias("authority"),
            )
            .localCheckpoint(eager=True)
        )


def label_propagation(
    edges: DataFrame, n_rounds: int = 5, reliable_dir: str | None = None
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) made fully
    deterministic → ``(url, label)`` community assignments after
    ``n_rounds`` rounds.

    Semantics: every vertex starts labeled with its own id; each round
    every vertex adopts the most frequent label among its IN-neighbors
    — each edge OCCURRENCE votes once, the ``pagerank`` duplicate-edge
    scatter convention — with ties broken toward the SMALLEST label
    (the classical random tie-break replaced by a total order so the
    result is reproducible and cross-engine exact); a vertex with no
    in-edges keeps its current label. Fixed round count, synchronous
    updates (the asynchronous variant is order-dependent by
    construction and ungateable).

    Scale shape (the ``pagerank``/``hits`` contract): each round costs
    (1) the label join into the cached edge table, (2) a (dst,
    label)-keyed vote count with map-side partial aggregation, (3) a
    dst-keyed argmax via ``min_by`` over the ``(-votes, label)``
    struct — no row_number window, so a hot vertex's votes never
    serialize through one task — and (4) a vertex-sized coalesce join
    back onto the full label vector. Join strategy is driver-adaptive
    on the EXACT vertex count (the ``hits`` move — checkpointed label
    vectors carry no stats, so the planner would otherwise SMJ and
    re-sort the edge table every round): while |V| is under the
    broadcast threshold the label vector broadcasts into both joins
    and edges stay un-repartitioned; past it the edge table is
    shuffled ONCE onto src and iterations re-shuffle only the
    vertex-sized vector. Lineage truncates every second round on the
    shared ``LoopScope.iterate``.
    """
    if n_rounds < 0:
        raise ValueError(f"n_rounds ({n_rounds}) must be non-negative")
    with LoopScope(reliable_dir) as scope:
        e = scope.persist(edges.select("src", "dst"))
        vertices = scope.persist(
            e.select(F.col("src").alias("url"))
            .union(e.select(F.col("dst").alias("url")))
            .distinct()
        )
        small = vertices.count() <= _BFS_BROADCAST_ROWS
        if not small:
            # release the first edge cache before the src-partitioned
            # copy fills on first use (it rescans the source), so only
            # one edge table is ever cached
            wide = scope.persist(
                e.repartition(_shuffle_width(edges.sparkSession), "src")
            )
            e.unpersist()
            e = wide

        def _vec(v: DataFrame) -> DataFrame:
            return F.broadcast(v) if small else v

        labels = vertices.select("url", F.col("url").alias("label"))

        def step(lbl: DataFrame, _i: int) -> DataFrame:
            votes = (
                e.join(_vec(lbl.withColumnRenamed("url", "src")), "src")
                .groupBy(F.col("dst").alias("url"), "label")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            winners = votes.groupBy("url").agg(
                F.min_by(
                    "label", F.struct((-F.col("c")).alias("nc"), "label")
                ).alias("new_label")
            )
            return (
                lbl.join(_vec(winners), "url", "left")
                .select("url", F.coalesce("new_label", "label").alias("label"))
            )

        out = scope.iterate(labels, step, n_rounds)
        return scope.keep(out)


def triangle_counts(
    edges: DataFrame,
    canon: DataFrame | None = None,
    with_degree: bool = False,
) -> DataFrame:
    """Per-vertex triangle counts → ``(url, triangles)`` over the
    UNDIRECTED simple graph underlying ``(src, dst)`` (duplicate
    edges and directions collapse to one canonical edge, self-loops
    drop; every vertex appears, zero-filled).

    Degree-ordered compact-forward counting (Schank & Wagner 2005;
    MapReduce form: Suri & Vassilvitskii, "Counting Triangles and the
    Curse of the Last Reducer", WWW'11 — the title IS the 100 TB
    design point): orient every canonical edge from its lower to its
    higher endpoint under a TOTAL order (degree, id); each triangle
    then has exactly one apex, and orientation bounds every
    out-degree by O(√m), so no celebrity vertex fans out 10^12
    wedges in one task.

    Plan choices, each measured at sf0.1 (484k edges, 30M
    triangles):

    - ADJACENCY-INTERSECTION enumeration, not a wedge self-join: per
      oriented edge (a,b) the closing vertices are
      ``array_intersect(N+(a), N+(b))`` against grouped out-neighbor
      arrays. A wedge join materializes and shuffles every OPEN wedge
      (90M rows here, 42 s); the intersection form shuffles nothing
      triangle-shaped except the closed-vertex explode (30M) and
      lands at ~10.5 s warm — profiled floor: the canonical-edge
      distinct (~3 s), the orientation pass (~3 s), the 90M hash
      probes of the intersections (~3.5 s).
    - INT dictionary encoding: vertex ids are replaced by dense longs
      before the hot path (counts are invariant under any id
      bijection — orientation changes, the once-per-triangle
      property does not), because the intersection is ~90M hash
      probes and probing longs beats probing strings; decoded back
      at the end through the same materialized dim.
    - BROADCAST adjacency: the grouped adjacency goes into both probes
      so the intersection runs MAP-SIDE over the cached oriented edges
      — a shuffled adjacency join ships one neighbor ARRAY per edge,
      wedge-sized traffic (+8 s measured). The adjacency is
      vertex-count rows / edge-count total elements, which bounds
      this plan to the executor broadcast budget (~100M edges).

    Credits: a and b take ``size(intersection)`` and each closing
    vertex takes 1, all emitted by ONE explode over per-row credit
    structs and summed by one map-side-combined aggregation — the only
    triangle-sized shuffle in the plan, with a single consumer of the
    intersection output (r17: the previous three-aggregate union
    persisted the ~30M-element intersection arrays and paid a 3x
    cache-read/population race, the measured query dominator).

    ``with_degree`` additionally emits each vertex's canonical simple
    degree (``(url, triangles, degree)``) reusing the orientation
    pass's degree subtree — for compositions (clustering coefficients)
    that would otherwise re-aggregate the canonical edges.

    ``canon`` (the ``bfs_distances`` pattern): a
    prebuilt CALLER-PERSISTED ``(cu, cv)`` canonical simple edge set —
    compositions that also need the canonical edges (degrees in
    ``clustering_coefficients``) pass it so the raw edge table is
    scanned and distinct'd ONCE, not once per consumer; ownership
    (persist/unpersist) stays with the caller.
    """
    nparts = _shuffle_width(edges.sparkSession)
    with LoopScope() as scope:
        if canon is None:
            canon_str = scope.persist(
                edges.filter(F.col("src") != F.col("dst"))
                .select(
                    F.least("src", "dst").alias("cu"), F.greatest("src", "dst").alias("cv")
                )
                .distinct()
            )
        else:
            canon_str = canon.select("cu", "cv")
        # dense-long vertex dim; the id assignment is arbitrary but must
        # be STABLE across its uses, hence the eager materialization
        vdim = scope.truncate(
            canon_str.select(F.col("cu").alias("url"))
            .union(canon_str.select(F.col("cv").alias("url")))
            .distinct()
            .withColumn("vid", F.monotonically_increasing_id())
        )
        dim = F.broadcast(vdim)
        canon = (
            canon_str.join(dim.select(F.col("url").alias("cu"), F.col("vid").alias("u")), "cu")
            .join(dim.select(F.col("url").alias("cv"), F.col("vid").alias("v")), "cv")
            .select("u", "v")
        )
        deg = (
            canon.select(F.col("u").alias("x"))
            .unionByName(canon.select(F.col("v").alias("x")))
            .groupBy("x")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        dd = F.broadcast(deg)
        with_deg = (
            canon.join(dd.withColumnRenamed("x", "u").withColumnRenamed("d", "du"), "u")
            .join(dd.withColumnRenamed("x", "v").withColumnRenamed("d", "dv"), "v")
        )
        u_first = (F.col("du") < F.col("dv")) | (
            (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
        )
        oriented = scope.persist(
            with_deg.select(
                F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
                F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
            ).repartition(nparts, "a")
        )
        adj = F.broadcast(
            oriented.groupBy("a").agg(F.collect_list("b").alias("nbrs"))
        )
        closed = (
            oriented.join(adj, "a")
            .join(
                adj.select(F.col("a").alias("b"), F.col("nbrs").alias("nbrs_b")),
                "b",
            )
            .select(
                "a",
                "b",
                F.array_intersect("nbrs", "nbrs_b").alias("cs"),
            )
            .filter(F.size("cs") > 0)
        )
        # ONE-pass credit assignment (r17, guide §2.3/§2.4): each closed
        # row credits apex ``a`` and mid ``b`` with size(cs) and every
        # closing vertex with 1, all through a single explode + one
        # map-side-combined sum. The previous shape — three aggregate
        # consumers (two edge-keyed sums + the explode count) over a
        # PERSISTED ``closed`` — cached ~30M array elements (~256 MB at
        # sf0.1) only to read them three times, and AQE launched the three
        # consumers as concurrent jobs that serialized on populating the
        # same cache blocks (measured: three overlapping ~4.8 s jobs, the
        # whole-query dominator). Credit sums are identical by construction
        # (same per-row terms, one union-of-terms instead of a union of
        # three partial aggregates); with a single consumer the cache — and
        # its population race — disappears.
        credits = closed.select(
            F.explode(
                F.concat(
                    F.array(
                        F.struct(
                            F.col("a").alias("x"),
                            F.size("cs").cast("long").alias("t"),
                        ),
                        F.struct(
                            F.col("b").alias("x"),
                            F.size("cs").cast("long").alias("t"),
                        ),
                    ),
                    F.transform(
                        "cs",
                        lambda c: F.struct(
                            c.alias("x"), F.lit(1).cast("long").alias("t")
                        ),
                    ),
                )
            ).alias("ct")
        ).select(F.col("ct.x").alias("x"), F.col("ct.t").alias("t"))
        per_vertex = credits.groupBy("x").agg(F.sum("t").alias("t"))
        out = vdim.join(per_vertex.withColumnRenamed("x", "vid"), "vid", "left")
        if with_degree:
            # canonical-simple-graph degree per vertex, reused from the
            # orientation pass's ``deg`` subtree (vid space) — saves the
            # caller (clustering_coefficients) a second string-keyed
            # aggregation over the canonical edges plus a vertex join
            dv = deg.withColumnRenamed("x", "vid")
            out = out.join(F.broadcast(dv), "vid", "left").select(
                "url",
                F.coalesce("t", F.lit(0)).cast("long").alias("triangles"),
                F.coalesce("d", F.lit(0)).cast("long").alias("degree"),
            )
        else:
            out = out.select(
                "url", F.coalesce("t", F.lit(0)).cast("long").alias("triangles")
            )
        # materialized, so the scope may drop the caches and the vertex
        # dim checkpoint the plan reads
        return out.localCheckpoint(eager=True)


def bfs_distances(
    edges: DataFrame,
    sources: list[str],
    n_rounds: int = 6,
    reliable_dir: str | None = None,
) -> DataFrame:
    """Multi-source BFS hop distances → ``(url, dist)`` for every
    vertex reachable from ``sources`` within ``n_rounds`` directed
    hops (``dist`` = fewest edges from the NEAREST source; sources
    themselves report 0; vertices not reached inside the round budget
    are absent — no sentinel infinity row).

    Fixed round count, synchronous expansion — the ``pagerank``
    determinism contract (PageRank.java:190 hard-codes its loop the
    same way), which is also what makes the oracle an unrolled CTE.

    Frontier-only relaxation (exact for unit weights, not an
    approximation): a vertex first reached in round i can only be
    discovered from a vertex first reached in round i-1, so each round
    joins the edge table against LAST round's newly-reached frontier
    — never the whole distance table — and new vertices enter via an
    anti-join on the accumulated state. On a 100 TB graph the
    per-round cost tracks the frontier ball, not the vertex count.

    Scale shape (r11 verdict item 6 rework): reachability ignores edge
    multiplicity, so the caller passes SIMPLE edges (the registered
    query distincts its bipartite union once — the raw input carries
    ~10x duplicate edges at every sf, and every frontier join then
    scans the 10x smaller simple graph); duplicate edges give the same
    output, only slower. The edges are persisted once. State is kept as
    per-round LAYERS, each eagerly truncated: the frontier is literally
    last round's layer (no filter over the growing table), the
    accumulated distance table is a union of materialized increments
    (each vertex is materialized once total), and an EMPTY layer proves
    the fixpoint — expansion is frontier-only, so all later layers are
    empty too — and exits early, output-identical. The loop is shared
    with ``source_centrality`` (``_layered_frontier``).

    Join strategy is driver-adaptive on EXACT layer counts (each layer
    is already materialized, so its count is a free in-memory job, and
    checkpointed frames carry no stats the planner could use — without
    the hint both frontier joins planned SMJ and re-shuffled the whole
    edge table every round, the measured per-round dominator): while
    the frontier / accumulated state is under
    ``_BFS_BROADCAST_ROWS`` rows it is broadcast into the edge join /
    anti-join (zero edge movement per round); past the threshold the
    hints drop away and the joins degrade to shuffles, still
    frontier-ball-bounded. sf0.1 A/B, warm: 6.4 s (SMJ rounds) ->
    4.3 s. The result is materialized; the layer checkpoints are
    released before returning.
    """
    with LoopScope(reliable_dir) as scope:
        dist = _layered_frontier(scope, edges, sources, n_rounds, keyed=False)
        return dist.localCheckpoint(eager=True)


def _layered_frontier(
    scope: LoopScope,
    edges: DataFrame,
    sources: list[str],
    n_rounds: int,
    keyed: bool,
) -> DataFrame:
    """The layered frontier loop of ``bfs_distances`` and
    ``source_centrality``: ``(url, dist)`` — or ``(source, url, dist)``
    when ``keyed``, one independent expansion per source under the
    composite key — as a lazy union of the per-round layer checkpoints
    ``scope`` made."""
    if n_rounds < 0:
        raise ValueError(f"n_rounds ({n_rounds}) must be non-negative")
    if not sources:
        raise ValueError("sources must be non-empty")
    seeds = sorted(set(sources))
    keys = ["source"] if keyed else []
    e = scope.persist(edges.select("src", "dst"))
    layer = scope.truncate(
        edges.sparkSession.createDataFrame(
            [(s, s) if keyed else (s,) for s in seeds], [*keys, "url"]
        ).select(*keys, "url", F.lit(0).cast("int").alias("dist"))
    )
    dist = layer
    n_layer = n_dist = len(seeds)
    for rnd in range(1, n_rounds + 1):
        frontier = layer.select(*keys, F.col("url").alias("src"))
        if n_layer <= _BFS_BROADCAST_ROWS:
            frontier = F.broadcast(frontier)
        seen = F.broadcast(dist) if n_dist <= _BFS_BROADCAST_ROWS else dist
        # distinct BEFORE the anti-join: the expansion is frontier x
        # degree rows, the distinct'd candidate set is vertex-bounded
        # — measured 6.5 s vs 11 s at sf0.1 for the swapped order
        layer = scope.truncate(
            e.join(frontier, "src")
            .select(*keys, F.col("dst").alias("url"))
            .distinct()
            .join(seen, [*keys, "url"], "left_anti")
            .select(*keys, "url", F.lit(rnd).cast("int").alias("dist"))
        )
        n_layer = layer.count()
        if n_layer == 0:
            break
        dist = dist.unionByName(layer)
        n_dist += n_layer
    return dist


def kcore(
    edges: DataFrame,
    k: int = 3,
    n_rounds: int = 5,
    reliable_dir: str | None = None,
) -> DataFrame:
    """k-core peeling over the UNDIRECTED simple graph underlying
    ``(src, dst)`` (duplicates/directions collapse to one canonical
    edge, self-loops drop — the ``triangle_counts`` graph) →
    ``(url, degree)`` for the vertices surviving ``n_rounds`` of
    peeling, with their degree in the surviving subgraph.

    Each round deletes every vertex whose CURRENT degree is < k and
    all incident edges (synchronous — all of a round's deletions see
    the same degree snapshot). Fixed round count keeps the operator
    deterministic and oracle-unrollable (the ``pagerank`` contract);
    ``n_rounds`` rounds yield the exact k-core whenever peeling has
    converged by then — peeling cascades at most one "layer" per
    round, and real corpus/web graphs converge in a handful — and a
    documented superset of it otherwise.

    Scale shape (r11 verdict item 6 rework): the loop's STATE is the
    shrinking canonical edge list plus the materialized degree
    snapshot it implies. Each round:

    1. one edge-sized degree aggregation (map-side partial agg; both
       directions via unioned projections, no explode), eagerly
       truncated — the snapshot doubles as the OUTPUT when this round
       proves the fixpoint;
    2. the DROP set (``degree < k``) — an empty drop set IS the
       fixpoint proof (a dropped vertex always has >= 1 incident edge,
       so "no drops" <=> "edge count unchanged", the previous exit
       test), and the loop returns the already-materialized degrees
       with no extra edge pass or final aggregation;
    3. otherwise two ANTI-joins against the drop set remove its
       incident edges. The drop set is a small filtered dimension
       (peeling removes a shrinking fringe per round), so AQE
       broadcasts it and the surviving-edge scan never reshuffles —
       the previous semi-joins against the large KEEP set forced a
       full edge shuffle per round. A pathological drop set bigger
       than the broadcast threshold degrades to a shuffled anti-join,
       still edge-bounded.
    """
    if k < 1:
        raise ValueError(f"k ({k}) must be >= 1")
    if n_rounds < 0:
        raise ValueError(f"n_rounds ({n_rounds}) must be non-negative")
    canon = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )

    def degrees(ed: DataFrame) -> DataFrame:
        return (
            ed.select(F.col("u").alias("url"))
            .unionByName(ed.select(F.col("v").alias("url")))
            .groupBy("url")
            .agg(F.count(F.lit(1)).alias("degree"))
        )

    with LoopScope(reliable_dir) as scope:
        ed, deg = canon, None
        for _rnd in range(1, n_rounds + 1):
            deg = scope.truncate(degrees(ed))
            drop = deg.filter(F.col("degree") < k).select("url")
            if drop.isEmpty():
                break
            ed = scope.truncate(
                ed.join(drop.withColumnRenamed("url", "u"), "u", "left_anti")
                .join(drop.withColumnRenamed("url", "v"), "v", "left_anti")
                .select("u", "v")
            )
            deg = None  # stale once a peel landed
        if deg is None:
            # n_rounds == 0, or the budget ran out mid-cascade
            deg = degrees(ed)
        return deg.select(
            "url", F.col("degree").cast("long").alias("degree")
        ).localCheckpoint(eager=True)


def sssp_weighted(
    edges: DataFrame,
    sources: list[str],
    n_rounds: int = 4,
    reliable_dir: str | None = None,
) -> DataFrame:
    """Multi-source weighted shortest paths → ``(url, dist)`` =
    minimum total edge weight from the nearest source over paths of
    at most ``n_rounds`` edges (directed; non-negative weights;
    vertices unreached within the hop budget are absent).

    Synchronous Bellman-Ford relaxation: ``dist_i(v) = min(
    dist_{i-1}(v), min over in-edges (u,v) of dist_{i-1}(u) + w)``.
    Unlike unit-weight BFS, a SETTLED vertex can still improve (a
    longer-hop lighter path), so every round relaxes from the FULL
    distance table — the frontier-only rewrite is exact only for unit
    weights. Fixed round count = the ``pagerank`` determinism
    contract; the oracle unrolls the same rounds, and every dist value
    is the same left-to-right sum of identical doubles on both
    engines (min is order-independent; IEEE addition along a path
    prefix is deterministic), rounded 6 only at the output.

    Scale shape: edges shuffled ONCE onto src and persisted; each
    round costs one state-sized co-partitioned join + one dst-keyed
    ``min`` with map-side partial aggregation + one vertex-bounded
    full-outer merge expressed as ``least`` over a left-right
    coalesce. State is one row per reached vertex, truncated every
    second round.
    """
    if n_rounds < 0:
        raise ValueError(f"n_rounds ({n_rounds}) must be non-negative")
    if not sources:
        raise ValueError("sources must be non-empty")
    spark = edges.sparkSession
    dist0 = (
        spark.createDataFrame([(s,) for s in sorted(set(sources))], ["url"])
        .select("url", F.lit(0.0).alias("dist"))
    )
    with LoopScope(reliable_dir) as scope:
        e = scope.persist(
            edges.select("src", "dst", F.col("w").cast("double").alias("__w"))
            .repartition(_shuffle_width(spark), "src")
        )

        def step(dist: DataFrame, _rnd: int) -> DataFrame:
            relaxed = (
                e.join(dist.withColumnRenamed("url", "src"), "src")
                .groupBy(F.col("dst").alias("url"))
                .agg(F.min(F.col("dist") + F.col("__w")).alias("__nd"))
            )
            return (
                dist.join(relaxed, "url", "full_outer")
                .select(
                    "url",
                    F.least(
                        F.coalesce("dist", F.col("__nd")),
                        F.coalesce("__nd", F.col("dist")),
                    ).alias("dist"),
                )
            )

        out = scope.iterate(dist0, step, n_rounds)
        return out.select("url", F.round("dist", 6).alias("dist")).localCheckpoint(
            eager=True
        )


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per vertex → ``(url, degree,
    triangles, clustering)`` over the undirected simple graph:
    ``clustering = 2·T(v) / (deg(v)·(deg(v)-1))``, the fraction of a
    vertex's neighbor pairs that are themselves connected (Watts &
    Strogatz 1998) — the standard local-density read distinguishing
    clustered community structure from degree-matched random graphs.
    Vertices with degree <= 1 report 0.0 (no neighbor pair exists).

    Pure composition: triangle counts from the audited degree-oriented
    ``triangle_counts`` plan (one apex per triangle, O(sqrt m)
    oriented out-degrees), canonical-edge degrees from one unioned
    aggregation, joined on the vertex — one extra vertex-bounded
    shuffle over the triangle plan. The division is IEEE double of
    exact integers, rounded to 6 digits — cross-engine exact.

    The canonical simple edge set is built and persisted ONCE and
    shared by both consumers via ``triangle_counts(canon=...)``
    (round-12 verdict: the composition previously re-scanned and
    re-distinct'd the raw edge table for the degree branch — at 100x
    that second pass is a full extra edge shuffle). The result is
    materialized (eager localCheckpoint) so the shared cache can be
    released before returning.
    """
    canon = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("cu"), F.greatest("src", "dst").alias("cv")
        )
        .distinct()
        .persist()
    )
    # r17 (§2.4): degrees ride OUT of the triangle pass (``with_degree``
    # reuses its vid-space orientation-degree subtree) instead of a
    # second string-keyed aggregation over ``canon`` + a vertex join
    # here — one fewer shuffle, one fewer join, and the returned frame
    # is a lazy projection over triangle_counts' already-materialized
    # checkpoint (no extra copy job). Values are identical: the degree
    # definition (canonical simple edges, both endpoints) is the same.
    tri = triangle_counts(edges, canon=canon, with_degree=True)
    out = tri.select(
        "url",
        "degree",
        "triangles",
        F.round(
            F.when(
                F.col("degree") >= 2,
                2.0
                * F.col("triangles")
                / (F.col("degree") * (F.col("degree") - F.lit(1))),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("clustering"),
    )
    canon.unpersist()
    return out


def bipartite_projection(
    edges: DataFrame,
    min_shared: int = 2,
    max_right_degree: int | None = 64,
) -> DataFrame:
    """Project a bipartite ``(src, dst)`` graph onto its LEFT vertex
    set → ``(a, b, shared)``: pairs of left vertices connected to at
    least ``min_shared`` common right vertices (``a < b``) — the
    co-purchase / co-occurrence graph construction (orders sharing
    parts, docs sharing shingles, users sharing items).

    Scale shape — the ``ngram_jaccard`` df-cap move on a graph:
    candidate pairs come from a self-join keyed on the RIGHT vertex,
    so a right vertex of degree d fans out C(d, 2) pairs;
    ``max_right_degree`` drops right vertices above the cap BEFORE
    pairing (a part in every order connects everything to everything
    and carries no signal — the stop-shingle argument verbatim), so
    candidate volume is bounded by |right| x C(cap, 2), never
    |left|^2. Dropped-hub pairs lose only that hub's +1 on ``shared``
    — the documented semantics of the cap (count over the KEPT right
    subspace), mirrored in the oracle. One deduped-edge shuffle + one
    pair-keyed count with map-side partials.

    The deduped+capped edge set is PERSISTED across the self-join:
    Spark clones equi-join diamonds into canonically different
    subtrees, so without the cache the dedup shuffle and the degree
    agg run twice — once per join side (A/B at sf0.1: 6.2 -> 5.3 s,
    identical pairs). The output is eagerly localCheckpoint'ed so the
    cache can be dropped before returning — construction is a blocking
    action and the result (small by construction: pairs clearing
    ``min_shared`` over the capped right subspace) is pinned until
    ``util.release_result`` frees it.
    """
    if min_shared < 1:
        raise ValueError(f"min_shared ({min_shared}) must be >= 1")
    ded = edges.select("src", "dst").distinct()
    if max_right_degree is not None:
        if max_right_degree < 2:
            raise ValueError(
                f"max_right_degree ({max_right_degree}) must be >= 2 to pair"
            )
        rdeg = ded.groupBy("dst").agg(F.count(F.lit(1)).alias("__d"))
        ded = ded.join(
            rdeg.filter(F.col("__d") <= max_right_degree).select("dst"), "dst"
        )
    # r17 (§2.4): pin the cached edge set to an EXPLICIT hash
    # partitioning on the join key at full configured width. Both
    # self-join sides then read identically-partitioned cache blocks —
    # the pair expansion needs no exchange of its own and runs at full
    # parallelism instead of whatever width the cap-filter join left
    # (profiled: a 10-task 3.2 s expansion stage writing the 154 MB
    # pair shuffle; the join's exchange is replaced by this one, not
    # added). A/B min-of-3 warm at sf0.1: 5.26 -> 2.82 s.
    ded = ded.repartition(_shuffle_width(edges.sparkSession), "dst").persist()
    a = ded.select(F.col("dst").alias("__r"), F.col("src").alias("a"))
    b = ded.select(F.col("dst").alias("__r"), F.col("src").alias("b"))
    out = (
        a.join(b, "__r")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    try:
        return out.localCheckpoint(eager=True)
    finally:
        ded.unpersist()


def source_centrality(
    edges: DataFrame, sources: list[str], n_rounds: int = 6
) -> DataFrame:
    """Closeness/harmonic centrality of chosen vertices — one row per
    source: ``(source, n_reached, harmonic, closeness)`` where over
    the vertices reached within ``n_rounds`` directed hops (excluding
    the source itself) ``harmonic = Σ 1/d(s, v)`` and ``closeness =
    n_reached / Σ d(s, v)`` (0.0 when nothing is reached). This is the
    pivot/sampling form every web-scale centrality estimate uses
    (Eppstein-Wang 2001): exact per-vertex centrality is all-pairs
    BFS, so you score a SAMPLE of vertices instead — each costing one
    ``bfs_distances`` run whose per-round work tracks its frontier
    ball.

    Cross-engine exactness: hop distances are integers, so Σ d is an
    exact integer sum and ``closeness`` a single IEEE division; the
    harmonic sum's reciprocals are decimal(18,12)-cast before summing
    (exact commutative addition under any partitioning — the
    ``tfidf_doc_pairs`` convention), then rounded 6 as a double.

    Round-12 batching: all pivots ride ONE multi-source BFS whose
    state is keyed ``(source, url)`` — the per-source expansions are
    independent under the composite key, so the layered loop is
    output-identical to per-pivot runs while the edge table is
    scanned once per ROUND instead of once per round per pivot
    (p pivots: p x n_rounds joins -> n_rounds). The loop is
    ``bfs_distances``' own (``_layered_frontier``, keyed by source):
    the caller passes simple edges, layer/state broadcasts gate on
    exact counts; a pivot reaching nothing still reports an explicit
    zero row via the seeds dim. The result is a lazy projection over
    the layer checkpoints (``util.release_result`` frees them).
    """
    spark = edges.sparkSession
    with LoopScope() as scope:
        dist = _layered_frontier(scope, edges, sources, n_rounds, keyed=True)
        agg = (
            dist.filter(F.col("dist") > 0)
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.sum("dist").alias("__sd"),
                F.sum(
                    (F.lit(1.0) / F.col("dist").cast("double")).cast(
                        "decimal(18,12)"
                    )
                ).alias("__h"),
            )
        )
        srcs = spark.createDataFrame([(s,) for s in sorted(set(sources))], ["source"])
        out = srcs.join(F.broadcast(agg), "source", "left").select(
            "source",
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_reached"),
            F.round(
                F.coalesce(F.col("__h"), F.lit(0)).cast("double"), 6
            ).alias("harmonic"),
            F.round(
                F.when(
                    F.col("__n") > 0,
                    F.col("__n").cast("double") / F.col("__sd").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("closeness"),
        )
        return scope.keep(out)
