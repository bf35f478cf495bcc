"""Session-level behaviour of ``session.get_spark``.

Spark compiles each whole-stage-codegen subtree to a Java class and
caches the class by its source (``spark.sql.codegen.cache.maxEntries``,
an LRU of 100 by default). A graph-loop pass generates more distinct
classes than that, so with the default every class is evicted before
its next use and each warm run recompiles it; the engine's session
sizes the cache to hold its working set.
"""

from __future__ import annotations

import __spark_entry__ as entrymod
from pagerank_mapreduce_implementation_spark import util

#: perfbench's graph_loops workload, in its order: ~130 distinct
#: generated classes a cold run, more than the default cache holds
LOOP_QUERIES = ("hits_top20", "wiki_pagerank")


def compile_count(spark) -> int:
    """Janino compilations so far in this JVM (every cache miss)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_graph_loops_compile_nothing(spark, sf_dir):
    qs = entrymod.queries()
    # compiles per pass and query, so a failure names the query whose
    # generated code changed between passes
    passes = []
    for _ in range(3):
        per_query = {}
        for name in LOOP_QUERIES:
            before = compile_count(spark)
            df = qs[name](spark, sf_dir)
            df.collect()
            util.release_result(df)
            per_query[name] = compile_count(spark) - before
        passes.append(per_query)
    warm = [sum(p.values()) for p in passes[1:]]
    assert warm == [0, 0], f"compiles per pass and query: {passes}"


def test_session_sizes_the_codegen_cache(spark):
    jvm = spark.sparkContext._jvm
    entry = jvm.org.apache.spark.sql.internal.StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES()
    default = int(entry.defaultValue().get())
    assert int(spark.conf.get(entry.key())) > default
