"""10x-replication scaling study for the DEDUP family + packed_bins
(r15 verdict item 4) — the scale10_graph.py sibling, probing the two
failure modes the graph study cannot:

1. **Pair explosion on a DUPLICATED corpus** (the r4 finding: verbatim
   replication multiplies true candidates ~45x, not 10x). The graph
   study's disjoint replication keeps output linear by construction;
   here we run BOTH variants:
   - ``disjoint``: each copy's text carries a per-copy token, so
     near-dup pairs stay within copies — output scales exactly 10x
     and the wall ratio measures ENGINE scaling.
   - ``duplicated``: ten VERBATIM copies (ids shifted) — every doc
     gains 9 true twins, candidate volume explodes quadratically in
     the duplication factor. The banding/df-cap design claim is that
     cost tracks TRUE pair volume (irreducible: the pairs exist and
     must be emitted), never corpus^2. We report pairs/sec alongside
     wall so the superlinear wall is attributed to superlinear OUTPUT.
2. **packed_bins' one inherent token shuffle**: the output is a
   reordered copy of the corpus tokens, so the shuffle scales with
   data — the question is whether wall stays ~linear (no single-point
   prefix-sum bottleneck; the two-phase distributed prefix sum is the
   design under test). Disjoint replication only (duplicated text
   changes nothing structurally for packing).

Gate exposure at 10x/duplicated:
- ``minhash_near_dups``: band buckets on duplicated text collide 10
  docs deep -> C(10,2) per bucket per band; the verify join must stay
  bounded by realized candidates.
- ``ngram_jaccard_pairs`` (df-capped at 64): the hottest sf0.1 shingle
  has df 4 -> 40 at 10x-duplicated (cap silent) -> use --copies 30 to
  push df past the cap and watch the cap ENGAGE (pairs drop vs the
  uncapped true count; that recall trade is the documented design).
- ``simhash_near_dups``: duplicated twins land at hamming 0, chunk
  buckets collide 10 deep — same per-bucket C(10,2) shape.

Usage: python scripts/scale10_dedup.py [--reps 2] [--copies 10]
Prints one JSON line per (op, variant, scale) and a summary table.
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
ID_STRIDE = 10_000_000  # doc_id shift per copy (ids stay long-typed)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--copies", type=int, default=10)
    args = ap.parse_args()

    from pagerank_mapreduce_implementation_spark.session import get_spark
    from pagerank_mapreduce_implementation_spark.sources import Catalog
    from pagerank_mapreduce_implementation_spark.operators import dedup, text
    from pagerank_mapreduce_implementation_spark.util import (
        persistent_rdd_ids,
        release_persistent_rdds_since,
    )

    spark = get_spark(app_name="scale10-dedup")
    spark.sparkContext.setLogLevel("ERROR")
    docs = Catalog(spark, SF_DIR).documents.select(
        "doc_id", "text", "lang", "source", "n_chars"
    )

    def replicate(disjoint: bool):
        parts = []
        for k in range(args.copies):
            c = docs.withColumn("doc_id", F.col("doc_id") + F.lit(k * ID_STRIDE))
            if disjoint:
                # prefix EVERY word with the copy key: cross-copy
                # shingle/token overlap drops to zero, so near-dup
                # pairs provably stay within copies. (A single
                # prepended token is NOT enough — it leaves cross-copy
                # jaccard ~0.99 on replicated text and the "disjoint"
                # corpus degenerates into the duplicated one; measured
                # before this fix: 247k pairs instead of 2,550.)
                c = c.withColumn(
                    "text",
                    F.regexp_replace(F.col("text"), r"(\S+)", f"c{k}_$1"),
                )
            parts.append(c)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    frames = {"1x": docs}
    for name, df in (
        ("disjoint", replicate(True)),
        ("duplicated", replicate(False)),
    ):
        frames[name] = df.localCheckpoint(eager=True)
        print(f"input {name}: {frames[name].count()} rows", file=sys.stderr)
    frames["1x"] = docs.localCheckpoint(eager=True)

    runs = [
        (
            "minhash_dedup",
            lambda d: dedup.minhash_near_dups(d, threshold=0.5, ngram=5),
            ("1x", "disjoint", "duplicated"),
        ),
        (
            "ngram_jaccard_capped64",
            lambda d: dedup.ngram_jaccard_pairs(d, 0.2, ngram=5, max_shingle_df=64),
            ("1x", "disjoint", "duplicated"),
        ),
        (
            "simhash_dedup",
            lambda d: dedup.simhash_near_dups(d, max_hamming=12),
            ("1x", "disjoint", "duplicated"),
        ),
        (
            "packed_bins",
            # packing never compares text across docs, so the VERBATIM
            # 10x replica is the right scale input (the word-prefix
            # transform would also inflate the token count); bins flow
            # continuously across copy boundaries so rows land at ~10x
            # +- boundary arithmetic, not exactly 10x
            lambda d: text.pack_bins(d, budget=512, bucket_size=64),
            ("1x", "duplicated"),
        ),
    ]
    PAIR_OPS = {"minhash_dedup", "ngram_jaccard_capped64", "simhash_dedup"}

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
                    # the REAL disjointness invariant (untimed): no
                    # pair spans two copies. Exact 10x row counts only
                    # hold for exact-recall ops — minhash banding
                    # recall and simhash hamming neighborhoods are
                    # hash-dependent, so per-copy counts legitimately
                    # differ under the word-rename.
                    cross = out.filter(
                        F.floor(F.col("doc_a") / ID_STRIDE)
                        != F.floor(F.col("doc_b") / ID_STRIDE)
                    ).count()
                release_persistent_rdds_since(spark, before)
            results[f"{op}_{variant}"] = {"sec": round(best, 2), "rows": rows}
            if cross is not None:
                results[f"{op}_{variant}"]["cross_copy_pairs"] = cross
            print(json.dumps({"op": op, "variant": variant, **results[f'{op}_{variant}']}))

    print(f"\nop | 1x | disjoint {args.copies}x | duplicated {args.copies}x "
          "| disj wall ratio | dup wall ratio | dup rows ratio")
    for op, _, variants in runs:
        a = results[f"{op}_1x"]
        d = results.get(f"{op}_disjoint")
        u = results.get(f"{op}_duplicated")

        def cell(r):
            return f"{r['sec']}s/{r['rows']}" if r else "-"

        dr = round(d["sec"] / a["sec"], 2) if d and a["sec"] else "-"
        ur = round(u["sec"] / a["sec"], 2) if u and a["sec"] else "-"
        urows = round(u["rows"] / a["rows"], 1) if u and a["rows"] else "-"
        print(
            f"{op} | {cell(a)} | {cell(d)} | {cell(u)} | "
            f"{dr}x | {ur}x | {urows}x"
        )
        # disjointness: zero cross-copy pairs for ops that VERIFY on
        # text overlap (minhash/ngram jaccard). simhash reports raw
        # hamming distance, so cross-copy chance collisions at radius
        # 12/60 are the op's own false-positive floor (measured 101 of
        # 4.5M = 0.002%), not engine leakage — report, don't warn.
        if op in PAIR_OPS and d is not None and d.get("cross_copy_pairs"):
            tag = "NOTE (chance collisions)" if op == "simhash_dedup" else "WARNING: leakage"
            print(
                f"  {tag}: {op} disjoint has {d['cross_copy_pairs']} "
                f"cross-copy pairs of {d['rows']}"
            )
        if (
            op == "ngram_jaccard_capped64"  # exact-recall: rows must be 10x
            and d is not None
            and d["rows"] != args.copies * a["rows"]
        ):
            print(
                f"  WARNING: {op} disjoint rows {d['rows']} != "
                f"{args.copies} * {a['rows']}"
            )


if __name__ == "__main__":
    main()
