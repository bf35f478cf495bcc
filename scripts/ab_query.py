"""A/B timing harness for registered queries and ad-hoc callables —
the measurement loop every perf change in this repo cites (bench.py
measures the whole suite; this isolates ONE query the way the inline
A/Bs in dedup/graph/similarity docstrings were taken).

Usage:
    python scripts/ab_query.py <query_name> [reps] [sf_dir]

Runs the registered query callable ``reps`` times COLD (clearCache
between reps, matching bench methodology) after one discarded warm-up,
and prints min/median/max plus the row count. Compare two variants by
running once per git state (or import this module and pass callables
to ``ab()`` from a scratch script).

Host-load caveat: numbers are only comparable between runs whose
``load1`` lines match — the bench's documented ~10-15% loaded-host
drift band applies here too, and a borderline load1 (>2) repaints
every iterative query.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def ab(spark, fn, reps: int = 3, label: str = "query") -> dict:
    """Time ``fn()`` (an action-producing callable) ``reps`` times
    cold; returns {"min":, "median":, "max":, "rows":}."""
    rows = fn()  # warm-up: JIT, file cache, plan compilation
    ts = []
    for _ in range(reps):
        spark.catalog.clearCache()
        t = time.time()
        rows = fn()
        ts.append(time.time() - t)
    out = {
        "min": round(min(ts), 3),
        "median": round(statistics.median(ts), 3),
        "max": round(max(ts), 3),
        "rows": rows,
    }
    print(
        f"{label}: min={out['min']}s median={out['median']}s "
        f"max={out['max']}s rows={rows} (load1={os.getloadavg()[0]:.2f})"
    )
    return out


def main() -> None:
    import __spark_entry__ as entry
    from pagerank_mapreduce_implementation_spark.session import get_spark

    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    q = entry.queries()[name]
    spark = get_spark()
    ab(spark, lambda: len(q(spark, sf_dir).collect()), reps=reps, label=name)


if __name__ == "__main__":
    main()
