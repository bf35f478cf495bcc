"""Round-17 job/stage profiler: run ONE registered query with the Spark
event log enabled and print a per-job / per-stage cost summary (duration,
task count, shuffle read/write bytes, input bytes) parsed from the event
log — the §1/§7.1 evidence for "how many jobs does this loop launch and
where does the wall-clock go" without the live UI.

Usage:
    python scripts/r17_joblog.py <query> [--sf-dir DIR] [--warm]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVDIR = "/tmp/spark-events-r17"


def build_session():
    """get_spark()'s configuration + the event log (static conf, must be
    set before the JVM exists — so the session is built HERE and
    get_spark's getOrCreate inside operators reuses it)."""
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
    os.makedirs(EVDIR, exist_ok=True)
    b = (
        SparkSession.builder.appName("r17-joblog")
        .master(f"local[{cpus}]")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{EVDIR}")
        .config("spark.eventLog.compress", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                "-XX:+UseG1GC -XX:ReservedCodeCacheSize=1g",
            ),
        )
    )
    return b.getOrCreate()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--warm", action="store_true", help="untimed sf0.001 warmup first")
    args = ap.parse_args()

    shutil.rmtree(EVDIR, ignore_errors=True)
    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    fn = entry.queries()[args.query]
    if args.warm:
        warm = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
        try:
            fn(spark, warm).write.mode("overwrite").format("noop").save()
        except Exception as exc:
            print(f"warmup failed: {exc}", file=sys.stderr)
    # mark the timed region so jobs before it can be filtered out
    spark.sparkContext.setJobDescription(f"TIMED:{args.query}")
    t0 = time.perf_counter()
    fn(spark, args.sf_dir).write.mode("overwrite").format("noop").save()
    wall = time.perf_counter() - t0
    spark.sparkContext.setJobDescription(None)
    spark.stop()

    # Spark 4 writes a rolling dir (eventlog_v2_<app>/events_*); older
    # layouts write one flat file
    logs = sorted(
        p
        for p in glob.glob(f"{EVDIR}/*") + glob.glob(f"{EVDIR}/*/events*")
        if os.path.isfile(p)
    )
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    lines = []
    for p in logs:
        with open(p) as fh:
            lines.extend(fh)
    if True:
        for line in lines:
            ev = json.loads(line)
            k = ev.get("Event")
            if k == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "t0": ev["Submission Time"],
                    "desc": (ev.get("Properties") or {}).get(
                        "spark.job.description", ""
                    ),
                    "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                }
            elif k == "SparkListenerJobEnd":
                jobs.setdefault(ev["Job ID"], {}).update(t1=ev["Completion Time"])
            elif k == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                acc = {a.get("Name"): a.get("Value") for a in si.get("Accumulables", [])}
                stages[si["Stage ID"]] = {
                    "name": si["Stage Name"],
                    "tasks": si["Number of Tasks"],
                    "ms": (si.get("Completion Time", 0) - si.get("Submission Time", 0)),
                    "shuffle_read": acc.get("internal.metrics.shuffle.read.remoteBytesRead", 0)
                    + (acc.get("internal.metrics.shuffle.read.localBytesRead", 0) or 0),
                    "shuffle_write": acc.get("internal.metrics.shuffle.write.bytesWritten", 0),
                    "input": acc.get("internal.metrics.input.bytesRead", 0),
                }

    print(f"\n=== {args.query}: wall {wall:.2f}s, {len(jobs)} jobs ===")
    timed_jobs = {
        j: v for j, v in jobs.items() if v.get("desc", "").startswith("TIMED:")
    }
    sel = timed_jobs or jobs
    print(f"timed-region jobs: {len(timed_jobs)}")
    for jid in sorted(sel):
        v = sel[jid]
        dur = (v.get("t1", 0) - v.get("t0", 0)) / 1000.0
        print(f"job {jid:3d}  {dur:7.2f}s  stages={v.get('stages')}")
        for sid in sorted(v.get("stages", [])):
            st = stages.get(sid)
            if not st:
                continue  # skipped (reused) stage
            print(
                f"   stage {sid:3d} {st['ms']/1000.0:7.2f}s tasks={st['tasks']:4d} "
                f"sr={st['shuffle_read'] or 0:>12} sw={st['shuffle_write'] or 0:>12} "
                f"in={st['input'] or 0:>12}  {st['name'][:70]}"
            )


if __name__ == "__main__":
    main()
