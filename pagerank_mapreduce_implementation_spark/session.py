"""SparkSession factory tuned for the engine.

Defaults target the test harness (local[N], 128 GiB box) but every knob
is chosen for how it scales out: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), Arrow on (vectorized Python<->JVM
transfer for the few Pandas-UDF operators), shuffle partitions sized to
the parallelism rather than Spark's legacy 200.

On a real cluster the same builder is used with ``master`` unset (taken
from spark-submit) and ``shuffle_partitions`` sized to ~2-3x total cores
(or left to AQE's coalescing with a high initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "spark-graft",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Environment overrides (driver contract): ``SPARK_GRAFT_CPUS`` sets
    local parallelism; tests use ``local[*]``.

    Static confs — the generated-code cache size, the warehouse dir,
    the JVM options — only take effect when this call creates the
    context; fetching a session created elsewhere keeps that session's
    values. The code cache holds 1000 generated
    classes, enough for a graph-loop pass and a text-search pass in
    one session, so a repeated query reuses its compiled classes
    instead of recompiling them with Janino every run.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic broadcast-join demotion/promotion. Essential at 100 TB
        # where static stats are stale or absent.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE coalesce partitions INSIDE persisted plans too —
        # iterative loops persist every step; without this each cached
        # step materializes at full shuffle width (tasks >> data).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Arrow for the Pandas-UDF extension points (similarity,
        # multimodal decode) — batch columnar transfer, not per-row pickle.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Parquet scans: vectorized reader + pushdown are on by default;
        # keep files splittable at 128 MiB so a 100 TB table fans out.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        # TIMESTAMP(NANOS) parquet columns (events.ts): Spark <=4.0
        # rejects them unless this legacy conf reads them as long;
        # Spark 4.1+ ignores the conf and reads them natively as
        # TIMESTAMP_NTZ. The catalog loader normalizes BOTH shapes to
        # micros TIMESTAMP; the conf stays for older-Spark portability.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark 4.1's checkpoint-file checksum manager leaks ~130
        # threads per stopped streaming query (see streaming/queries.py
        # run_to_memory) — disabled; checksums only detect checkpoint
        # file corruption.
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
        # Deterministic calendar rendering: date/window functions
        # follow the session zone; the DuckDB oracles treat the naive
        # event timestamps as UTC.
        .config("spark.sql.session.timeZone", "UTC")
        # Managed-table location for bucketed tables (write_bucketed):
        # static conf, must be set before the first session exists.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
        # Generated-code cache (static conf: it only takes effect when
        # get_spark creates the context). Whole-stage codegen
        # compiles each plan subtree to a Java class with Janino and
        # caches it by source in an LRU of 100 by default. A cold pass
        # of perfbench's graph_loops generates 131 distinct classes
        # (hits_top20 88, wiki_pagerank 43), of text_search 96, of both
        # in one session 219 — so at 100 every class is evicted before
        # its reuse and each warm pass recompiles ~110 (graph) / ~30
        # (text) and runs them cold (graph_loops pass 10.2 -> 8.0 s at
        # 1000, 4-vCPU VM). 1000 holds both with headroom; a class is
        # ~3 kB of bytecode (mean; max 13 kB); metaspace moved < 10 MB.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Long-session hygiene (a many-hundred-query session is the
        # steady state for both the bench and a 100 TB driver): the
        # SQL status store retains full plan graphs + metrics for the
        # last 1000 executions EVEN WITH THE UI OFF — unrolled
        # iterative plans (pagerank, hits, lloyd) are huge, so a long
        # suite accumulates hundreds of MB of dead metadata and taxes
        # the listener bus; retain a diagnostic-sized window instead.
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.ui.retainedJobs", "200")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "10000")
        # ContextCleaner only reclaims shuffle files / broadcast blocks
        # once the JVM GCs their references — with a 24g driver heap,
        # organic full GCs are rare, so hundreds of executions' shuffle
        # files pile up on local disk mid-session. The default periodic
        # System.gc() every 30min never fires inside one bench; every
        # 2min keeps the cleanup queue draining.
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # G1 (the JVM default) measured best here; ZGC was 3-4x slower
        # on this allocation-heavy workload. The reserved code cache is
        # raised because whole-stage codegen emits a class per query
        # shape — a many-query session overflows the 240MB default,
        # silently disabling the JIT and making later queries run
        # interpreted (measured as random 10-20x per-query slowdowns).
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                "-XX:+UseG1GC -XX:ReservedCodeCacheSize=1g",
            ),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
