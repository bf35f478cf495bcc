"""Round-16 optimization probe: time + capture plans for named queries.

Usage:
    python scripts/r16_probe.py <query> [<query> ...] [--reps N] [--plans-dir DIR]
    python scripts/r16_probe.py --all          # every registered query

For each query: warm it once at sf0.001 (JIT/codegen), then time REPS
noop-sink runs at $SPARK_GRAFT_SF_DIR (min reported — same methodology
as bench.py), and write `.explain("formatted")` to
plans/r16/<query>_<tag>.txt when --plans-dir/--tag is given.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from pagerank_mapreduce_implementation_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# env-overridable like SF_DIR (r16 ADVICE): a missing warm fixture would
# silently charge JIT/codegen cost to the first timed rep
WARM_DIR = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")


def drop_persisted(spark) -> None:
    try:
        jsc = spark.sparkContext._jsc.sc()
        it = jsc.getPersistentRDDs().values().iterator()
        while it.hasNext():
            it.next().unpersist(False)
    except Exception as exc:  # visible like bench.py's helper (r16 ADVICE)
        print(f"  drop_persisted unavailable: {exc}", file=sys.stderr)
    try:
        for tbl in spark.catalog.listTables():
            if tbl.name.startswith("_stream_") and tbl.isTemporary:
                spark.catalog.dropTempView(tbl.name)
    except Exception:
        pass
    spark.catalog.clearCache()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--tag", default="before")
    args = ap.parse_args()

    qmap = entry.queries()
    names = list(qmap) if args.all else args.queries
    unknown = [n for n in names if n not in qmap]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark(app_name="r16-probe")
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, float] = {}
    for name in names:
        fn = qmap[name]
        try:
            fn(spark, WARM_DIR).write.mode("overwrite").format("noop").save()
        except Exception as exc:
            print(f"  warmup {name} failed: {exc}", file=sys.stderr)
        drop_persisted(spark)
        best = None
        failed = False
        for rep in range(args.reps):
            t0 = time.perf_counter()
            try:
                df = fn(spark, SF_DIR)
                df.write.mode("overwrite").format("noop").save()
            except Exception as exc:  # keep probing the rest (r16 ADVICE)
                print(f"  [{rep}] {name} FAILED: {exc}", file=sys.stderr)
                failed = True
                drop_persisted(spark)
                break
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            print(f"  [{rep}] {name}: {dt:.3f}s", file=sys.stderr)
            if args.plans_dir and rep == 0:
                os.makedirs(args.plans_dir, exist_ok=True)
                try:
                    plan = spark._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"
                    )
                except Exception:
                    import contextlib
                    import io

                    buf = io.StringIO()
                    with contextlib.redirect_stdout(buf):
                        df.explain("formatted")
                    plan = buf.getvalue()
                with open(
                    os.path.join(args.plans_dir, f"{name}_{args.tag}.txt"), "w"
                ) as fh:
                    fh.write(plan)
            del df
            gc.collect()
            drop_persisted(spark)
        results[name] = None if failed else round(best, 3)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
