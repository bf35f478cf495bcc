"""Per-layer metrics of a traced window, from its spans and Spark jobs.

Every figure is a per-pass value, reported as the median over the traced
passes. A job belongs to the layer of the innermost span with a layer
that was open when it was submitted, so the jobs of
``DataFrame.localCheckpoint`` inside ``plans.iterative`` count for
``plans.iterative``.
"""

from __future__ import annotations

from collections import defaultdict
from statistics import median

from perfbench import eventlog
from perfbench.spans import Span, layer_parent, self_times

#: Layers whose self time and job count are reported.
LAYERS = (
    "registry",
    "sources.read",
    "sources.write",
    "operators.graph",
    "plans.iterative",
    "operators.text",
    "programs",
    "sink",
)
CHECKPOINT_LAYERS = ("plans.iterative", "operators.graph")
WIKI = "functions.wiki.parse_pages"
#: Reported by the run itself, not computed from the spans.
RUN_METRICS = {
    "session.get_spark_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def names(queries: tuple[str, ...]) -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    out = dict(RUN_METRICS)
    for q in queries:
        out[f"query.{q}.p50_s"] = "s"
        out[f"query.{q}.jobs"] = "count"
    for layer in LAYERS:
        out[f"{layer}.self_s"] = "s"
        out[f"{layer}.jobs"] = "count"
    out[f"{WIKI}.self_s"] = "s"
    out["sources.write_bytes"] = "bytes"
    out["operators.graph.tasks"] = "count"
    for layer in CHECKPOINT_LAYERS:
        out[f"{layer}.checkpoints"] = "count"
    out["plans.iterative.checkpoint_s"] = "s"
    out.update(
        {
            "spark.jobs_per_pass": "count",
            "spark.stages_per_pass": "count",
            "spark.tasks_per_pass": "count",
            "spark.tasks_failed": "count",
            "spark.job_busy_s": "s",
            "spark.driver_gap_s": "s",
            "spark.executor_run_s": "s",
            "spark.gc_s": "s",
            "spark.shuffle_read_bytes": "bytes",
            "spark.shuffle_write_bytes": "bytes",
            "spark.input_bytes": "bytes",
        }
    )
    return out


def window_metrics(
    spans: list[Span], jobs: dict[int, eventlog.Job], queries: tuple[str, ...]
) -> dict[str, float]:
    """Every metric of ``names(queries)`` except ``RUN_METRICS``. A query
    the window never ran reads 0."""
    selfs = self_times(spans)
    passes = [s for s in spans if s.layer == "pass"]
    per_pass: dict[int, defaultdict[str, float]] = {p.pass_id: defaultdict(float) for p in passes}

    for s in spans:
        t = per_pass.get(s.pass_id)
        if t is None:
            continue
        if s.name == "checkpoint":
            owner = layer_parent(spans, s)
            if owner is not None and owner.layer in CHECKPOINT_LAYERS:
                t[f"{owner.layer}.checkpoints"] += 1
                if owner.layer == "plans.iterative":
                    t["plans.iterative.checkpoint_s"] += s.duration
            continue
        t[f"{s.layer}.self_s"] += selfs[s.id]
        if s.name == WIKI:
            t[f"{WIKI}.self_s"] += selfs[s.id]
        if s.name == f"query.{s.query}":
            t[f"query.{s.query}.p50_s"] += s.duration

    pass_jobs: dict[int, list[eventlog.Job]] = defaultdict(list)
    for j in jobs.values():
        if j.span is None or j.span >= len(spans):
            continue
        owner = layer_parent(spans, spans[j.span])
        t = per_pass.get(owner.pass_id) if owner is not None else None
        if t is None:
            continue
        pass_jobs[owner.pass_id].append(j)
        t[f"{owner.layer}.jobs"] += 1
        if owner.query is not None:
            t[f"query.{owner.query}.jobs"] += 1
        if owner.layer == "operators.graph":
            t["operators.graph.tasks"] += j.tasks.count
        if owner.layer == "sources.write":
            t["sources.write_bytes"] += j.tasks.output
        t["spark.jobs_per_pass"] += 1
        t["spark.stages_per_pass"] += j.stages_run
        t["spark.tasks_per_pass"] += j.tasks.count
        t["spark.tasks_failed"] += j.tasks.failed
        t["spark.executor_run_s"] += j.tasks.run_ms / 1000
        t["spark.gc_s"] += j.tasks.gc_ms / 1000
        t["spark.shuffle_read_bytes"] += j.tasks.shuffle_read
        t["spark.shuffle_write_bytes"] += j.tasks.shuffle_write
        t["spark.input_bytes"] += j.tasks.input

    for p in passes:
        busy = eventlog.busy_ms(pass_jobs[p.pass_id]) / 1000
        per_pass[p.pass_id]["spark.job_busy_s"] = busy
        per_pass[p.pass_id]["spark.driver_gap_s"] = p.duration - busy

    return {
        name: median(t[name] for t in per_pass.values()) if per_pass else 0.0
        for name in names(queries)
        if name not in RUN_METRICS
    }
