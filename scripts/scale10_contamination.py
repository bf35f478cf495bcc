"""10x contamination-family scale study — closes the scale-evidence
matrix (graph, dedup, ANN, programs, streaming all have one). The
claims under test are the contamination module docstring's 100 TB
posture:

1. ASYMMETRIC JOIN SHAPE: the benchmark side is broadcast (AQE, from
   measured size) — the corpus-side shingles never shuffle for the
   join; the only corpus shuffle is the final per-doc aggregation.
   Asserted on the executed adaptive plan at 10x.
2. EXACT DETECTION AT SCALE: planted benchmark passages (one fixed
   >=8-token passage appended to ~2% of each copy's docs) are flagged
   with 100% recall and ZERO false positives on the word-prefixed
   disjoint remainder, at 1x and 10x.
3. LINEAR WALL: corpus 10x -> wall ~10x or better (the benchmark side
   is constant; nothing quadratic).

Corpus construction follows scale10_dedup: EVERY word is prefixed
with the copy key (one prepended token would leave cross-copy jaccard
~0.99), doc_ids strided. The planted passage is NOT prefixed — it is
the benchmark text itself, shared verbatim across copies, which is
exactly what contamination looks like in production.

Usage: python scripts/scale10_contamination.py [--copies 10]
Prints one JSON line per run and a summary.
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
PASSAGE = (
    "benchmark answer key alpha bravo charlie delta echo foxtrot golf "
    "hotel india juliet kilo lima mike november oscar papa quebec romeo"
)
PLANT_MOD = 53  # ~2% of docs per copy carry the passage


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=10)
    args = ap.parse_args()

    from pagerank_mapreduce_implementation_spark.operators.contamination import (
        contamination_check,
        decontaminate,
    )
    from pagerank_mapreduce_implementation_spark.session import get_spark
    from pagerank_mapreduce_implementation_spark.sources import Catalog

    spark = get_spark(app_name="scale10-contamination")
    spark.sparkContext.setLogLevel("ERROR")

    docs = Catalog(spark, SF_DIR).documents.select("doc_id", "text")

    def corpus(n):
        parts = []
        for k in range(n):
            p = docs.withColumn(
                "doc_id", F.col("doc_id") + F.lit(k * ID_STRIDE)
            ).withColumn(
                "text", F.regexp_replace(F.col("text"), r"(\S+)", f"c{k}_$1")
            )
            # plant the verbatim benchmark passage into ~2% of docs
            p = p.withColumn(
                "text",
                F.when(
                    F.col("doc_id") % PLANT_MOD == 0,
                    F.concat(F.col("text"), F.lit(" " + PASSAGE)),
                ).otherwise(F.col("text")),
            )
            parts.append(p)
        out = parts[0]
        for q in parts[1:]:
            out = out.unionByName(q)
        return out

    bench = spark.createDataFrame(
        [(0, PASSAGE), (1, "an unrelated benchmark question nobody copied")],
        "doc_id long, text string",
    )

    results = {}
    last_audit = None
    for tag, n in (("warmup", 1), ("1x", 1), (f"{args.copies}x", args.copies)):
        c = corpus(n)
        t0 = time.time()
        audit = contamination_check(c, bench, ngram=8, threshold=0.01)
        last_audit = audit
        flagged = audit.filter(F.col("is_contaminated") == 1)
        n_flagged = flagged.count()
        wall = round(time.time() - t0, 2)
        if tag == "warmup":
            continue
        n_planted = c.filter(F.col("doc_id") % PLANT_MOD == 0).count()
        # recall AND false positives, exactly: the flagged id set must
        # BE the planted id set
        wrong = (
            flagged.select("doc_id")
            .exceptAll(
                c.filter(F.col("doc_id") % PLANT_MOD == 0).select("doc_id")
            )
            .count()
        )
        missed = (
            c.filter(F.col("doc_id") % PLANT_MOD == 0)
            .select("doc_id")
            .exceptAll(flagged.select("doc_id"))
            .count()
        )
        t1 = time.time()
        kept = decontaminate(c, bench, ngram=8, threshold=0.01).count()
        decon_wall = round(time.time() - t1, 2)
        results[tag] = {
            "rows": c.count(),
            "planted": n_planted,
            "flagged": n_flagged,
            "false_pos": wrong,
            "missed": missed,
            "check_wall_s": wall,
            "decon_wall_s": decon_wall,
            "kept": kept,
        }
        print(json.dumps({"run": tag, **results[tag]}))
        assert wrong == 0 and missed == 0, (
            f"{tag}: detection not exact ({wrong} FP, {missed} missed)"
        )
        assert kept == results[tag]["rows"] - n_planted

    # claim 1: the benchmark side of the SHINGLE join is BROADCAST in
    # the executed adaptive plan (AQE measures the tiny bench set at
    # runtime — the static plan defaults to SMJ, so the assert must
    # read the FINAL plan after an action on the same QueryExecution,
    # the test_plans.py convention). The doc-id backfill join that
    # restores too-short docs is id-keyed on the post-agg frame and
    # may legitimately sort-merge; only the shingle join shape is the
    # 100 TB claim.
    # reuse the timing loop's 10x audit frame — re-running the heaviest
    # job a third time just to read its plan would double the 10x cost
    audit = last_audit
    audit.collect()  # AQE finalizes the plan only on execution
    plan = audit._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("+- == Initial Plan ==")[0]
    assert "BroadcastHashJoin [shingle" in plan, (
        "benchmark shingle side not broadcast in the final plan"
    )
    assert "SortMergeJoin [shingle" not in plan, (
        "shingle join fell back to a corpus-side shuffle"
    )
    print(json.dumps({"plan": "broadcast-ok"}))

    r1, rn = results["1x"], results[f"{args.copies}x"]
    ratio = round(rn["check_wall_s"] / max(r1["check_wall_s"], 1e-9), 2)
    assert rn["check_wall_s"] <= args.copies * 1.5 * max(
        r1["check_wall_s"], 0.5
    ), f"super-linear contamination wall at {args.copies}x ({ratio}x)"
    print(json.dumps({"ok": True, "wall_ratio": ratio, **results}))


if __name__ == "__main__":
    main()
