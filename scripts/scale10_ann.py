"""10x-replication scaling study for the ANN / embedding family —
the scale10_dedup.py sibling over ``embeddings`` (sf0.1: 2,000 x 64).

Variants:
- ``disjoint`` (roll): per-copy component ROLL (copy k rotates each
  vector's components by k). Rotation is an orthogonal permutation,
  so every intra-copy cosine — and therefore every true pair set —
  is EXACTLY the 1x one. NOTE (measured r16): it does NOT decorrelate
  copies of THIS corpus — the synthetic embeddings are correlated
  enough that rolled vectors still clear cosine 0.25 across copies en
  masse (128k cross-copy pairs), so the variant is an intra-copy-
  geometry control, not a disjointness one; intra-copy pair counts
  land at 10x the 1x truth modulo the banding recall under re-hashed
  (rolled) vectors (~98.3% measured). Cross-copy counts are reported
  separately.
- ``duplicated``: ten verbatim copies, vec_ids shifted — every vector
  gains 9 exact twins at cosine 1.0. The pair-explosion worst case
  for the banded cosine ops (twin groups alone add C(10,2) x 2,000 =
  90,000 true pairs; every natural pair multiplies x100).

Gate exposure:
- ``ivf_topk`` / ``ivf_topk_batch``: Lloyd seeding + cell assignment
  scale with rows; the probe stays cell-bounded — wall should track
  the index build, not the scan.
- ``pq_train`` + ``pq_topk``: subspace codebook training is the
  scaling surface; serving reads codes only.
- ``cosine_pairs_lsh`` (16 planes, 2 bands): bucket occupancy grows
  10x (disjoint) or collides 10-deep (duplicated) — the exact-verify
  stage must track realized candidates, never corpus^2.

Usage: python scripts/scale10_ann.py [--reps 2] [--copies 10]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ID_STRIDE = 10_000_000


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--copies", type=int, default=10)
    args = ap.parse_args()

    from pagerank_mapreduce_implementation_spark.session import get_spark
    from pagerank_mapreduce_implementation_spark.sources import Catalog
    from pagerank_mapreduce_implementation_spark.operators import similarity
    from pagerank_mapreduce_implementation_spark.util import (
        persistent_rdd_ids,
        release_persistent_rdds_since,
    )

    spark = get_spark(app_name="scale10-ann")
    spark.sparkContext.setLogLevel("ERROR")
    emb = Catalog(spark, SF_DIR).embeddings.select("vec_id", "embedding")
    dim = len(emb.select("embedding").first()[0])

    def roll(col, k):
        # component rotation: an orthogonal permutation — intra-copy
        # cosines (hence top-k sets and bucket geometry) are EXACT
        if k % dim == 0:
            return col
        k = k % dim
        return F.concat(F.slice(col, k + 1, dim - k), F.slice(col, 1, k))

    def replicate(disjoint: bool):
        parts = []
        for k in range(args.copies):
            c = emb.withColumn("vec_id", F.col("vec_id") + F.lit(k * ID_STRIDE))
            if disjoint:
                c = c.withColumn("embedding", roll(F.col("embedding"), k))
            parts.append(c)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    frames = {"1x": emb.localCheckpoint(eager=True)}
    for name, df in (
        ("disjoint", replicate(True)),
        ("duplicated", replicate(False)),
    ):
        frames[name] = df.localCheckpoint(eager=True)
        print(f"input {name}: {frames[name].count()} rows", file=sys.stderr)

    def pq(d):
        books = similarity.pq_train(d, m=4, k=8, n_iters=2)
        return similarity.pq_topk(d, 0, books, k=10)

    runs = [
        (
            "ivf_topk",
            lambda d: similarity.ivf_topk(d, 0, k=10, n_cells=16, n_probe=4),
            ("1x", "disjoint", "duplicated"),
        ),
        (
            "ivf_topk_batch",
            lambda d: similarity.ivf_topk_batch(
                d, query_vec_ids=[0, 7, 21, 42, 99], k=10, n_cells=16, n_probe=4
            ),
            ("1x", "disjoint", "duplicated"),
        ),
        ("pq_train_topk", pq, ("1x", "disjoint", "duplicated")),
        (
            "cosine_pairs_lsh",
            lambda d: similarity.cosine_pairs_lsh(
                d, 0.25, num_planes=16, bands=2
            ),
            ("1x", "disjoint", "duplicated"),
        ),
    ]
    PAIR_OPS = {"cosine_pairs_lsh"}

    results = {}
    for op, fn, variants in runs:
        for variant in variants:
            frame = frames[variant]
            best, rows, cross = 1e18, None, None
            for rep in range(args.reps):
                before = persistent_rdd_ids(spark)
                t0 = time.time()
                out = fn(frame)
                rows = out.count()
                best = min(best, time.time() - t0)
                if rep == args.reps - 1 and (
                    op in PAIR_OPS and variant == "disjoint"
                ):
                    # cross-copy pairs under the roll are REAL cosine
                    # coincidences (rolled vectors can still align),
                    # not leakage — reported for the record
                    cross = out.filter(
                        F.floor(F.col("vec_a") / ID_STRIDE)
                        != F.floor(F.col("vec_b") / ID_STRIDE)
                    ).count()
                release_persistent_rdds_since(spark, before)
            results[f"{op}_{variant}"] = {"sec": round(best, 2), "rows": rows}
            if cross is not None:
                results[f"{op}_{variant}"]["cross_copy_pairs"] = cross
            print(json.dumps({"op": op, "variant": variant, **results[f'{op}_{variant}']}))

    print("\nop | 1x | disjoint | duplicated | disj wall | dup wall")
    for op, _, variants in runs:
        a = results[f"{op}_1x"]
        d = results.get(f"{op}_disjoint")
        u = results.get(f"{op}_duplicated")

        def cell(r):
            return f"{r['sec']}s/{r['rows']}" if r else "-"

        dr = round(d["sec"] / a["sec"], 2) if d and a["sec"] else "-"
        ur = round(u["sec"] / a["sec"], 2) if u and a["sec"] else "-"
        print(f"{op} | {cell(a)} | {cell(d)} | {cell(u)} | {dr}x | {ur}x")


if __name__ == "__main__":
    main()
