"""10x program-scale rerun (r15 verdict item 5): the full
``clean_corpus`` two-batch signature-store round-trip and
``build_training_shards`` at 10x the sf0.1 corpus — the last
full-PROGRAM scale run was r6, and the operator-level studies
(scale10_graph.py, scale10_dedup.py) don't exercise the programs'
checkpoint-release discipline or the store append path at volume.

Shape:
- corpus: 10 disjoint copies of sf0.1 documents (per-copy token +
  doc_id stride — the scale10_dedup.py convention), written to /tmp
  parquet because programs take PATHS (their contract).
- clean_corpus batch 1 = copies 0-4 -> seeds ``{store}/sigs+bands``;
  batch 2 = copies 5-9 PLUS a planted 2% verbatim slice of batch 1
  (ids shifted) -> the slice must be dropped VIA THE STORE (it shares
  no batch-2 twin), everything else kept. Cross-batch dedup at volume.
- build_training_shards: the packing+layout program over the full 10x
  corpus (no clean stage — scale10_dedup covers the dedup cost),
  budget 512 / 64 bins per shard, doc spans on.
- after each program: assert the session's cached-RDD set returned to
  its pre-call state (the r6 zero-leak invariant, now at 10x).

Usage: python scripts/scale10_programs.py [--copies 10]
Prints one JSON line per stage and a summary.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ID_STRIDE = 10_000_000


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=10)
    args = ap.parse_args()

    from pagerank_mapreduce_implementation_spark.session import get_spark
    from pagerank_mapreduce_implementation_spark.sources import Catalog
    from pagerank_mapreduce_implementation_spark.programs import (
        build_training_shards,
        clean_corpus,
    )

    spark = get_spark(app_name="scale10-programs")
    spark.sparkContext.setLogLevel("ERROR")

    def cached_ids():
        return {
            int(info.id())
            for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    docs = Catalog(spark, SF_DIR).documents.select(
        "doc_id", "text", "lang", "source", "n_chars"
    )

    def copies(lo, hi):
        # word-prefix disjointness (the scale10_dedup.py lesson): a
        # single prepended token leaves cross-copy jaccard ~0.99 and
        # the whole corpus collapses to one copy's survivors
        parts = []
        for k in range(lo, hi):
            parts.append(
                docs.withColumn("doc_id", F.col("doc_id") + F.lit(k * ID_STRIDE))
                .withColumn(
                    "text",
                    F.regexp_replace(F.col("text"), r"(\S+)", f"c{k}_$1"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    half = args.copies // 2
    root = tempfile.mkdtemp(prefix="scale10_prog_")
    results = {}
    try:
        b1 = copies(0, half)
        # planted cross-batch slice: 2% of batch 1 VERBATIM (same copy
        # token -> true near-dups of batch-1 docs), ids shifted past
        # every copy — droppable only via the persisted store
        plant = (
            copies(0, 1)
            .filter(F.col("doc_id") % 50 == 0)
            .withColumn(
                "doc_id", F.col("doc_id") + F.lit(100 * ID_STRIDE)
            )
        )
        b2 = copies(half, args.copies).unionByName(plant)
        p_b1, p_b2 = f"{root}/b1_in", f"{root}/b2_in"
        b1.write.parquet(p_b1)
        b2.write.parquet(p_b2)
        n1 = spark.read.parquet(p_b1).count()
        n2 = spark.read.parquet(p_b2).count()
        n_plant = plant.count()
        print(f"batch1 {n1} rows, batch2 {n2} rows ({n_plant} planted dups)",
              file=sys.stderr)

        store = f"{root}/store"
        for name, src in (("clean_b1", p_b1), ("clean_b2", p_b2)):
            before = cached_ids()
            t0 = time.time()
            kept = clean_corpus(
                spark, src, f"{root}/{name}_out",
                near_dup_threshold=0.5, ngram=5, signature_store=store,
            )
            n_kept = kept.count()
            sec = round(time.time() - t0, 2)
            leaked = cached_ids() - before
            results[name] = {"sec": sec, "rows_in": spark.read.parquet(src).count(),
                             "kept": n_kept, "leaked_rdds": len(leaked)}
            print(json.dumps({"stage": name, **results[name]}))
            assert not leaked, f"{name} leaked cached RDDs: {leaked}"

        # every planted doc must be gone, dropped via the STORE (its
        # twin lives in batch 1, not batch 2)
        kept2 = spark.read.parquet(f"{root}/clean_b2_out")
        planted_alive = kept2.filter(
            F.col("doc_id") >= 100 * ID_STRIDE
        ).count()
        results["store_dedup"] = {
            "planted": n_plant, "survived": planted_alive
        }
        print(json.dumps({"stage": "store_dedup", **results["store_dedup"]}))
        assert planted_alive == 0, (
            f"{planted_alive}/{n_plant} planted cross-batch dups survived"
        )
        n_sigs = spark.read.parquet(f"{store}/sigs").count()
        print(json.dumps({"stage": "store", "sigs": n_sigs}))

        # full-corpus shard build (packing + contiguous layout + manifest)
        full = f"{root}/full_in"
        copies(0, args.copies).write.parquet(full)
        before = cached_ids()
        t0 = time.time()
        manifest = build_training_shards(
            spark, full, f"{root}/shards", budget=512, bins_per_shard=64
        )
        n_shards = manifest.count()
        sec = round(time.time() - t0, 2)
        leaked = cached_ids() - before
        results["build_training_shards"] = {
            "sec": sec, "shards": n_shards, "leaked_rdds": len(leaked)
        }
        print(json.dumps({"stage": "build_training_shards",
                          **results["build_training_shards"]}))
        assert not leaked, f"shards leaked cached RDDs: {leaked}"
        print(json.dumps({"ok": True, **{k: v for k, v in results.items()}}))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
