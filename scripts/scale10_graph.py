"""10x-replication scaling study for the r12-r14 graph cohort (r14
verdict item 7): validate that the broadcast-hint gates
(``graph._BFS_BROADCAST_ROWS`` = 500k state rows; ``broadcast_adj``
adjacency broadcasts) degrade GRACEFULLY — not cliff — once the data
pushes vertex/state counts past the thresholds they were tuned below.

Method (the round-4 /tmp/sf1 harness shape, in-memory): build the
sf0.1 graph inputs once, then a 10x replica as TEN DISJOINT
vertex-prefixed copies (``c{k}:<url>``) — structure per copy is
preserved, so op output scales exactly 10x and any superlinear wall
is ENGINE behavior, not semantic blow-up (contrast the r4 minhash
note, where replicating identical docs multiplied true candidates).
Inputs are eagerly checkpointed so build cost stays out of the
timings; every measurement is min-of-2 with persisted-block cleanup
between runs (bench.py's hygiene).

Gate exposure at 10x:
- ``source_centrality`` runs 10 pivots (one per copy at 10x): the
  (source, url) distance state crosses 500k mid-loop, flipping the
  frontier/seen broadcasts to shuffle joins (graph.py:1538-1540).
- ``sssp_weighted`` has NO gate by design (state-sized co-partitioned
  joins every round) — it is the shape the gated loops degrade TO,
  so its ratio is the graceful-degradation reference line.
- ``clustering_coefficients`` broadcasts the grouped adjacency
  (``broadcast_adj=True``); 10x distinct edges grows that broadcast
  10x (still far under the ~100M-edge advice bound).
- ``bipartite_projection`` / ``cluster_survivors``: no broadcast
  gate; included to complete the cohort (persist diamonds, star CC).

Usage: python scripts/scale10_graph.py [--reps 2] [--copies 10]
Prints one JSON line per (op, scale) and a summary table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--copies", type=int, default=10)
    args = ap.parse_args()

    from pagerank_mapreduce_implementation_spark.session import get_spark
    from pagerank_mapreduce_implementation_spark.sources import Catalog
    from pagerank_mapreduce_implementation_spark.operators import dedup, graph
    from pagerank_mapreduce_implementation_spark.util import (
        persistent_rdd_ids,
        release_persistent_rdds_since,
    )

    spark = get_spark(app_name="scale10-graph")
    spark.sparkContext.setLogLevel("ERROR")
    cat = Catalog(spark, SF_DIR)

    def replicate(df, cols):
        """Ten disjoint copies: every vertex/doc id prefixed c{k}:."""
        parts = []
        for k in range(args.copies):
            c = df
            for col in cols:
                c = c.withColumn(
                    col, F.concat(F.lit(f"c{k}:"), F.col(col).cast("string"))
                )
            parts.append(c)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    li = cat.lineitem
    bip = li.select(
        F.concat(F.lit("o"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    n_supp = cat.supplier.count()
    supg = li.select(
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(
            F.lit("s"), ((F.col("l_partkey") % (2 * n_supp)) + 1).cast("string")
        ).alias("dst"),
    )
    wbip = li.select(
        F.concat(F.lit("o"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
        F.col("l_quantity").cast("double").alias("w"),
    )
    docs = cat.documents.select("doc_id", "text", "lang", "source", "n_chars")
    docs_rep = replicate(
        docs.withColumn("doc_id", F.col("doc_id").cast("string")), ["doc_id"]
    # a per-copy token keeps replicas from being true near-dups of each
    # other (pairs stay WITHIN copies; output scales exactly 10x)
    ).withColumn(
        "text",
        F.concat(F.split(F.col("doc_id"), ":")[0], F.lit(" "), F.col("text")),
    )

    def bidir(e):
        return e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    def simple_bidir(e):
        # source_centrality takes simple edges: distinct the directed
        # edges once (the staging of the registered query), then mirror
        return bidir(
            e.repartition(spark.sparkContext.defaultParallelism, "src", "dst").distinct()
        )

    def bidir_w(e):
        return e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )

    inputs = {
        "bip_1x": bip,
        "bip_10x": replicate(bip, ["src", "dst"]),
        "supg_1x": supg,
        "supg_10x": replicate(supg, ["src", "dst"]),
        "wbip_1x": wbip,
        "wbip_10x": replicate(wbip, ["src", "dst"]),
        "docs_1x": docs.withColumn("doc_id", F.col("doc_id").cast("string")),
        "docs_10x": docs_rep,
    }
    frames = {}
    for name, df in inputs.items():
        frames[name] = df.localCheckpoint(eager=True)
        print(f"input {name}: {frames[name].count()} rows", file=sys.stderr)

    # pivots: the 10 lexicographically-first order vertices (1x), and
    # at 10x the SAME pivot set placed one per copy (c{k}:<piv_1x[k]>,
    # cycling if copies > 10) — matched sets, so the 1x-vs-10x ratio
    # measures scale, not pivot selection (r15 review finding: the
    # earlier one-ball-replicated form skewed the comparison by
    # whichever ball piv_1x[0] happened to have)
    piv_1x = [
        r["src"]
        for r in frames["bip_1x"].select("src").distinct().orderBy("src").limit(10).collect()
    ]
    piv_10x = [
        f"c{k}:{piv_1x[k % len(piv_1x)]}" for k in range(args.copies)
    ]

    runs = [
        ("clustering_coefficients", "supg", lambda e: graph.clustering_coefficients(e)),
        ("source_centrality_10piv", "bip", None),  # special-cased below
        ("sssp_weighted_10src", "wbip", None),
        ("bipartite_projection", "bip", lambda e: graph.bipartite_projection(e, min_shared=2, max_right_degree=64)),
        ("cluster_survivors", "docs", lambda d: dedup.cluster_survivors(d, threshold=0.5, ngram=5)),
    ]

    results = {}
    for op, base, fn in runs:
        for scale in ("1x", "10x"):
            frame = frames[f"{base}_{scale}"]
            piv = piv_1x if scale == "1x" else piv_10x
            if op == "source_centrality_10piv":
                build = lambda: graph.source_centrality(simple_bidir(frame), piv, n_rounds=4)  # noqa: B023,E731
            elif op == "sssp_weighted_10src":
                build = lambda: graph.sssp_weighted(bidir_w(frame), piv, n_rounds=4)  # noqa: B023,E731
            else:
                build = lambda: fn(frame)  # noqa: B023,E731
            best, rows = 1e18, None
            for _ in range(args.reps):
                before = persistent_rdd_ids(spark)
                t0 = time.time()
                out = build()
                rows = out.count()
                best = min(best, time.time() - t0)
                release_persistent_rdds_since(spark, before)
            results[f"{op}_{scale}"] = {"sec": round(best, 2), "rows": rows}
            print(json.dumps({"op": op, "scale": scale, **results[f'{op}_{scale}']}))

    print("\nop | 1x | 10x | wall ratio | rows 1x->10x")
    for op, _, _ in runs:
        a, b = results[f"{op}_1x"], results[f"{op}_10x"]
        ratio = round(b["sec"] / a["sec"], 2) if a["sec"] else float("nan")
        print(f"{op} | {a['sec']} | {b['sec']} | {ratio}x | {a['rows']}->{b['rows']}")


if __name__ == "__main__":
    main()
