#!/usr/bin/env python3
"""End-to-end benchmark of the spark-graft engine.

    python3 perfbench/run.py --workload graph_loops --seed 1 --seconds 15 --trace 0

One process, one client, closed loop. A run generates the workload's
input tables from ``--seed``, computes the DuckDB oracle of every
workload query over them, then:

1. set-up (``setup_s``): imports the engine, starts the session with
   ``session.get_spark`` on ``local[nproc]``, and runs one gate pass
   that collects every query and compares it with its oracle; the gate
   pass is also the warm-up on the measured inputs;
2. the timed window (``run_s``): a fixed number of passes, each running
   every workload query once, in an order the seed permutes, into the
   ``noop`` sink (``pass_p50_s`` is the median pass).

With ``--trace 1`` the session is started with the Spark event log on
(through ``PYSPARK_SUBMIT_ARGS``; ``get_spark`` keeps its own config),
and after set-up and one settling pass the window's passes (rounded up
to an even count) run with spans around every layer's public functions
in half of them, in the order untraced, traced, traced, untraced, ...
so both halves sit at the same point of the JVM's warm-up. The per-layer metrics come from
the traced passes; ``trace.overhead_s`` is their total time minus the
untraced passes'.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``. The line before it
records the seed, the environment and the raw pass times. ``--smoke``
runs sf0.001-sized inputs with one-pass windows.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time
from contextlib import nullcontext
from pathlib import Path
from statistics import median

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import datagen, eventlog, layers, spans  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

DRIVER_MEM = "4g"
WORK_DIR = ".perfbench_work"
END_TO_END = {"setup_s": "s", "run_s": "s", "pass_p50_s": "s"}
ALL_QUERIES = tuple(dict.fromkeys(q for w in WORKLOADS.values() for q in w.queries))


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def configure_env(work: Path, trace: bool) -> Path:
    """Point every file the run writes into ``work`` and size the engine
    to this machine. Returns the event-log directory."""
    tmp, events = work / "tmp", work / "eventlog"
    for d in (tmp, events):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # The engine's 24g default heap is sized for a large host; the inputs
    # here need a fraction of it, and a shared machine needs the room.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()
    if trace:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{events} "
            "--conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false pyspark-shell"
        )
    return events


def normalize(df):
    """Column-sorted, row-sorted frame: the comparison form of the
    repository's oracle parity tests."""
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def mismatch(got, want) -> str | None:
    """Why ``got`` differs from the normalized oracle frame ``want``,
    or None: exact column names, row count and values, and no
    integer-vs-float divergence (the values would hash differently)."""
    import pandas as pd

    got = normalize(got)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as exc:
        return " ".join(str(exc).split())[:300]
    for col in got.columns:
        kinds = {got[col].dtype.kind, want[col].dtype.kind}
        if "f" in kinds and kinds & set("iu"):
            return f"{col}: integer vs float"
    return None


def oracle_frames(entry, data_dir: str, queries) -> dict:
    """Normalized DuckDB oracle result (or the exception) per query."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in datagen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        sql, out = entry.oracle_sql(), {}
        for q in queries:
            try:
                out[q] = normalize(con.sql(sql[q]).df())
            except Exception as exc:  # an oracle failure fails the gate
                out[q] = exc
        return out
    finally:
        con.close()


class Bench:
    """Runs queries of one workload and counts operations."""

    def __init__(self, spark, entry, data_dir: str, queries, seed: int) -> None:
        self.spark = spark
        self.fns = {q: entry.queries()[q] for q in queries}
        self.data_dir = data_dir
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failures: list[str] = []
        self.tracer: spans.Tracer | None = None
        self.query_s: dict[str, list[float]] = {q: [] for q in queries}
        self.pass_cpu_s: list[float] = []
        self.jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process and the JVM."""
        with open(f"/proc/{self.jvm_pid}/stat", encoding="ascii") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return time.process_time() + (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def _span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracer else nullcontext()

    def order(self) -> list[str]:
        return self.rng.sample(list(self.fns), len(self.fns))

    def release(self) -> None:
        """Free what a query left persisted or checkpointed, as bench.py
        does, so one query's blocks do not tax the next."""
        jsc = self.spark.sparkContext._jsc.sc()
        it = jsc.getPersistentRDDs().values().iterator()
        while it.hasNext():
            it.next().unpersist(False)
        self.spark.catalog.clearCache()
        gc.collect()

    def execute(self, name: str, collect: bool = False):
        """One operation: build the query and sink it into noop, or
        collect it to pandas. An exception is counted as a failure."""
        self.attempted += 1
        if self.tracer:
            self.tracer.query = name
        t0 = time.perf_counter()
        try:
            with self._span(f"query.{name}", "registry"):
                df = self.fns[name](self.spark, self.data_dir)
                with self._span("sink", "sink"):
                    if collect:
                        return df.toPandas()
                    df.write.mode("overwrite").format("noop").save()
        except Exception as exc:
            self.failures.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
            return None
        finally:
            self.query_s[name].append(time.perf_counter() - t0)
            if self.tracer:
                self.tracer.query = None
            self.release()

    def run_pass(self, pass_id: int) -> float:
        if self.tracer:
            self.tracer.pass_id = pass_id
        cpu0, t0 = self.cpu_s(), time.perf_counter()
        with self._span("pass", "pass"):
            for q in self.order():
                self.execute(q)
        wall = time.perf_counter() - t0
        self.pass_cpu_s.append(self.cpu_s() - cpu0)
        return wall

    def gate(self, oracles: dict) -> float:
        """Collect every query once and compare it with its oracle.
        Returns the Spark-side seconds (comparison excluded)."""
        spent = 0.0
        for q in self.order():
            t0 = time.perf_counter()
            got = self.execute(q, collect=True)
            spent += time.perf_counter() - t0
            want = oracles[q]
            if isinstance(want, Exception):
                self.failures.append(f"{q}: oracle failed: {want}"[:300])
            elif got is not None and (why := mismatch(got, want)):
                self.failures.append(f"{q}: oracle mismatch: {why}")
        return spent


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.close()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def git_commit() -> str | None:
    """HEAD of the checkout, or None where it is not a git repository."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def environment(seed: int) -> dict:
    import pyspark

    return {
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "load1": os.getloadavg()[0],
        "pyspark": pyspark.__version__,
        "git_commit": git_commit(),
    }


def is_traced(i: int) -> bool:
    """Whether pass ``i`` of a traced window carries spans: the order
    untraced, traced, traced, untraced repeats, so the two halves sit at
    the same mean position on a falling pass-time curve."""
    return i % 4 in (1, 2)


def traced_window(
    bench: Bench, first_pass: int, n: int
) -> tuple[spans.Tracer, list[float], list[float]]:
    """Run ``2 k`` passes, ``k = ceil(n / 2)``, half of them with spans
    installed for that pass only (``is_traced``); return the spans, the
    traced pass times and the untraced ones."""
    from pyspark.sql.classic.dataframe import DataFrame

    sc = bench.spark.sparkContext
    tracer = spans.Tracer(set_property=lambda v: sc.setLocalProperty(spans.SPAN_PROPERTY, v))
    traced: list[float] = []
    untraced: list[float] = []
    for i in range(2 * ((n + 1) // 2)):
        if not is_traced(i):
            untraced.append(bench.run_pass(first_pass + i))
            continue
        installed = spans.install(tracer, DataFrame)
        bench.tracer = tracer
        try:
            traced.append(bench.run_pass(first_pass + i))
        finally:
            bench.tracer = None
            installed.restore()
    return tracer, traced, untraced


def run(args: argparse.Namespace, work: Path) -> tuple[dict, dict]:
    wl = WORKLOADS[args.workload]
    events = configure_env(work, bool(args.trace))
    env = environment(args.seed)
    scale = datagen.SMOKE if args.smoke else wl.scale
    data_dir = datagen.generate(str(work / "data"), args.seed, scale)

    t_import = time.perf_counter()
    import __spark_entry__ as entry
    from pagerank_mapreduce_implementation_spark.session import get_spark

    import_s = time.perf_counter() - t_import
    oracles = oracle_frames(entry, data_dir, wl.queries)

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    get_spark_s = time.perf_counter() - t0
    try:
        env["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        bench = Bench(spark, entry, data_dir, wl.queries, args.seed)
        gate_s = bench.gate(oracles)
        setup_s = import_s + get_spark_s + gate_s

        n = 1 if args.smoke else wl.passes(args.seconds)
        info = {
            **env,
            "workload": args.workload,
            "setup_parts_s": {"import": import_s, "get_spark": get_spark_s, "gate": gate_s},
        }
        if args.trace:
            # The first pass after the gate sits on the steepest part of
            # the warm-up curve (graph_loops 9.9 s against 6.8 s next),
            # more than the spans cost; it belongs to neither half.
            info["settle_pass_s"] = bench.run_pass(1)
            tracer, traced, window = traced_window(bench, 2, n)
            info["traced_pass_s"] = traced
            rss = jvm_peak_rss_mb(bench.jvm_pid)
        else:
            window = [bench.run_pass(1 + i) for i in range(n)]
        info["pass_s"] = window
        info["samples"] = {"pass_p50_s": len(window)}
        info["pass_cpu_s"] = bench.pass_cpu_s
        info["query_s"] = bench.query_s
    finally:
        stop_spark(spark)

    if args.trace:
        (log,) = [p for p in events.iterdir() if not p.name.startswith(".")]
        per_layer = layers.window_metrics(tracer.spans, eventlog.read(str(log)), ALL_QUERIES)
        per_layer.update(
            {
                "session.get_spark_s": get_spark_s,
                "session.jvm_peak_rss_mb": rss,
                "trace.overhead_s": sum(traced) - sum(window),
            }
        )
        units = layers.names(ALL_QUERIES)
        metrics = {k: per_layer[k] for k in units}
    else:
        metrics = {"setup_s": setup_s, "run_s": sum(window), "pass_p50_s": median(window)}
        units = END_TO_END
    result = {
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    info["failures"] = bench.failures
    return info, result


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no engine to measure at {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / WORK_DIR / str(os.getpid())
    try:
        info, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run is still using it
            pass
    print(json.dumps({"perfbench": info}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
