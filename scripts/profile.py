"""Time registered queries and profile the Spark jobs each one runs.

Usage:
    python scripts/profile.py [QUERY ...] --sf-dir DIR [--repo DIR]
        [--reps N] [--plans-dir DIR]

No QUERY means every registered one. Each query is warmed once on the
``--sf-dir`` tables it is timed on, then ``--reps`` passes run them
in turn into the noop sink with ``bench.py``'s hygiene: persisted
blocks, checkpoints and memory-sink views are released after each run,
and a query that fails is recorded as null. The session is ``get_spark``
of the ``--repo`` checkout with the event log on; each timed run tags its
jobs with the ``perfbench.span`` local property. Prints one JSON
document: per query every wall time, and the jobs, stages, tasks and
bytes, job-busy time and driver gap (wall minus busy) of its fastest
run. To compare two checkouts, alternate ``--repo`` runs on one box.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
if __name__ == "__main__":
    # This directory would shadow the standard library's ``profile``
    # module, which pyspark loads through cProfile.
    sys.path[0] = str(ROOT)

from perfbench import eventlog  # noqa: E402
from perfbench.spans import SPAN_PROPERTY  # noqa: E402


def summarize(lines, runs: list[tuple[str, float | None]]) -> dict[str, dict | None]:
    """Per-query record from event-log ``lines``. ``runs[i]`` is the query
    and wall seconds (None if it failed) of the run whose jobs carry span
    ``i``; job counters are those of the query's fastest run."""
    by_run: dict[int, list[eventlog.Job]] = {}
    for job in eventlog.parse(lines).values():
        if job.span is not None:
            by_run.setdefault(job.span, []).append(job)
    out: dict[str, dict | None] = {}
    for name in dict.fromkeys(q for q, _ in runs):
        mine = [(wall, i) for i, (q, wall) in enumerate(runs) if q == name]
        if any(wall is None for wall, _ in mine):
            out[name] = None
            continue
        wall, fastest = min(mine)
        jobs = by_run.get(fastest, [])
        tasks = eventlog.Tasks()
        for job in jobs:
            tasks.add(job.tasks)
        busy = eventlog.busy_ms(jobs) / 1000
        out[name] = {
            "wall_s": round(wall, 3),
            "walls_s": [round(w, 3) for w, _ in mine],
            "jobs": len(jobs),
            "stages": sum(job.stages_run for job in jobs),
            "tasks": tasks.count,
            "failed_tasks": tasks.failed,
            "shuffle_read_bytes": tasks.shuffle_read,
            "shuffle_write_bytes": tasks.shuffle_write,
            "input_bytes": tasks.input,
            "busy_s": round(busy, 3),
            "driver_gap_s": round(wall - busy, 3),
        }
    return out


def release(spark, util) -> None:
    """Free what a run left persisted, checkpointed or in a memory sink."""
    util.release_persistent_rdds_since(spark, set())
    for table in spark.catalog.listTables():
        if table.isTemporary and table.name.startswith("_stream_"):
            spark.catalog.dropTempView(table.name)
    spark.catalog.clearCache()
    gc.collect()


def timed_runs(spark, util, queries: dict, args) -> list[tuple[str, float | None]]:
    """Warm every query, then run ``args.reps`` passes over them; returns
    ``(query, wall seconds or None)`` per run, in span order."""
    for name, fn in queries.items():
        try:
            fn(spark, args.sf_dir).write.mode("overwrite").format("noop").save()
        except Exception as exc:
            print(f"warmup {name} failed: {exc!r}", file=sys.stderr)
        release(spark, util)
    sc = spark.sparkContext
    runs: list[tuple[str, float | None]] = []
    for rep in range(args.reps):
        for name, fn in queries.items():
            if (name, None) in runs:
                continue
            sc.setLocalProperty(SPAN_PROPERTY, str(len(runs)))
            t0 = time.perf_counter()
            try:
                df = fn(spark, args.sf_dir)
                df.write.mode("overwrite").format("noop").save()
                wall = time.perf_counter() - t0
                print(f"[{rep}] {name}: {wall:.3f}s", file=sys.stderr)
            except Exception as exc:
                print(f"[{rep}] {name} failed: {exc!r}", file=sys.stderr)
                df = wall = None
            sc.setLocalProperty(SPAN_PROPERTY, "")
            runs.append((name, wall))
            if args.plans_dir and rep == 0 and df is not None:
                plan = spark._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                Path(args.plans_dir, f"{name}.txt").write_text(plan)
            del df
            release(spark, util)
    return runs


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("queries", nargs="*", help="registered query names (default: all)")
    ap.add_argument("--repo", default=str(ROOT), help="checkout whose engine runs")
    ap.add_argument("--sf-dir", required=True, help="tables of the timed runs")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans-dir", help="write each query's formatted plan here")
    args = ap.parse_args()

    sys.path.insert(0, os.path.abspath(args.repo))
    import __spark_entry__ as entry
    from pagerank_mapreduce_implementation_spark import util
    from pagerank_mapreduce_implementation_spark.session import get_spark

    registry = entry.queries()
    unknown = sorted(set(args.queries) - set(registry))
    if unknown:
        raise SystemExit(f"not registered in {args.repo}: {unknown}")
    queries = {q: fn for q, fn in registry.items() if not args.queries or q in args.queries}
    if args.plans_dir:
        os.makedirs(args.plans_dir, exist_ok=True)
    load1 = os.getloadavg()[0]
    with tempfile.TemporaryDirectory(prefix="profile-events-") as events:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{events} "
            "--conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false pyspark-shell"
        )
        spark = get_spark(app_name="profile")
        spark.sparkContext.setLogLevel("ERROR")
        cpus = spark.sparkContext.defaultParallelism
        try:
            runs = timed_runs(spark, util, queries, args)
        finally:
            spark.stop()
        (log,) = [p for p in Path(events).iterdir() if not p.name.startswith(".")]
        with open(log, encoding="utf-8") as fh:
            summary = summarize(fh, runs)
    load1 = [round(load1, 2), round(os.getloadavg()[0], 2)]
    doc = {"repo": os.path.abspath(args.repo), "sf_dir": args.sf_dir, "reps": args.reps}
    print(json.dumps({**doc, "cpus": cpus, "load1": load1, "queries": summary}, indent=1))


if __name__ == "__main__":
    main()
