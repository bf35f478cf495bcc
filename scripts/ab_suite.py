"""A/B suite harness for round-over-round drift bisection: run an
ARBITRARY subset of registry queries, from an ARBITRARY repo checkout
(a git worktree of an old HEAD), in one fresh session with bench.py's
exact hygiene (sf0.001 warmup, 3 passes, per-query min, persisted-block
and memory-sink cleanup between measurements) — so two code versions
can be measured over the SAME query list back-to-back, and the same
code can be measured at different session lengths (158- vs 186-query
sessions) to split code drift from JVM session-state effects
(round-13 verdict item 4).

Usage:
  python scripts/ab_suite.py --repo /root/repo/.wt_r12 \
      --queries /tmp/shared158.txt --out /tmp/ab_r12.json
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default="/root/repo", help="checkout to import")
    ap.add_argument("--queries", required=True, help="file: one query name/line")
    ap.add_argument("--out", required=True)
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    sys.path.insert(0, os.path.abspath(args.repo))
    import __spark_entry__ as entrymod
    from pagerank_mapreduce_implementation_spark.session import get_spark

    wanted = [
        ln.strip() for ln in open(args.queries) if ln.strip()
    ]
    registry = entrymod.queries()
    missing = [n for n in wanted if n not in registry]
    if missing:
        raise SystemExit(f"not in this checkout's registry: {missing}")
    # preserve REGISTRY order (the session sees queries in the same
    # sequence bench.py would), restricted to the wanted subset
    names = [n for n in registry if n in set(wanted)]

    load1_start = round(os.getloadavg()[0], 2)
    spark = get_spark(app_name="ab-suite")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:  # untimed warmup, bench.py's contract
        try:
            registry[name](spark, "/root/testdata/sf0.001").write.mode(
                "overwrite"
            ).format("noop").save()
        except Exception as exc:  # noqa: BLE001
            print(f"  warmup {name} failed: {exc}", file=sys.stderr)

    def drop_persisted() -> None:
        try:
            jsc = spark.sparkContext._jsc.sc()
            it = jsc.getPersistentRDDs().values().iterator()
            while it.hasNext():
                it.next().unpersist(False)
        except Exception as exc:  # noqa: BLE001
            print(f"  drop_persisted unavailable: {exc}", file=sys.stderr)
        try:
            for tbl in spark.catalog.listTables():
                if tbl.name.startswith("_stream_") and tbl.isTemporary:
                    spark.catalog.dropTempView(tbl.name)
        except Exception as exc:  # noqa: BLE001
            print(f"  sink cleanup unavailable: {exc}", file=sys.stderr)
        spark.catalog.clearCache()

    drop_persisted()
    timings: dict[str, float] = {}
    for pass_no in range(args.passes):
        for name in names:
            t0 = time.perf_counter()
            df = registry[name](spark, args.sf_dir)
            df.write.mode("overwrite").format("noop").save()
            elapsed = round(time.perf_counter() - t0, 3)
            if name not in timings or elapsed < timings[name]:
                timings[name] = elapsed
            print(f"  [{pass_no}] {name}: {elapsed:.3f}s", file=sys.stderr)
            del df
            gc.collect()
            drop_persisted()
    out = {
        "repo": os.path.abspath(args.repo),
        "n_queries": len(names),
        "total": round(sum(timings.values()), 3),
        "queries": timings,
        "load1_at_start": load1_start,
        "load1_at_end": round(os.getloadavg()[0], 2),
        "sf_dir": args.sf_dir,
    }
    with open(args.out, "w") as fh:
        json.dump(out, fh)
    print(json.dumps({k: out[k] for k in ("repo", "n_queries", "total")}))
    spark.stop()


if __name__ == "__main__":
    main()
