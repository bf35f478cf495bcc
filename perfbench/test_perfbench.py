"""Tests of the benchmark's own arithmetic and its run contract.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench import datagen, eventlog, layers, spans  # noqa: E402
from perfbench.run import is_traced, mismatch, normalize  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402
from perfbench.spans import Span  # noqa: E402

FIXTURE = HERE / "testdata" / "eventlog_small.jsonl"


def _spans() -> list[Span]:
    """pass [0,10] > query [1,9] > graph op [2,6] > checkpoint [3,5]
    > text op [3.5,4.5]; query > sink [6.5,8.5]."""
    rows = [
        ("pass", "pass", None, 0, 10),
        ("query.q", "registry", 0, 1, 9),
        ("operators.graph.pagerank", "operators.graph", 1, 2, 6),
        ("checkpoint", None, 2, 3, 5),
        ("operators.text.tokenize", "operators.text", 3, 3.5, 4.5),
        ("sink", "sink", 1, 6.5, 8.5),
    ]
    return [
        Span(i, name, layer, parent, 7, "q" if i else None, start, end)
        for i, (name, layer, parent, start, end) in enumerate(rows)
    ]


def test_self_time_subtracts_children_through_checkpoints():
    got = spans.self_times(_spans())
    # the checkpoint is transparent: its 2 s stay with the graph span,
    # while the text span nested inside it is the graph span's child
    assert got == {0: 2.0, 1: 2.0, 2: 3.0, 4: 1.0, 5: 2.0}


def test_self_time_counts_overlapping_children_once():
    s = [
        Span(0, "a", "x", None, 0, None, 0, 10),
        Span(1, "b", "y", 0, 0, None, 1, 5),
        Span(2, "c", "y", 0, 0, None, 4, 7),
        Span(3, "d", "y", 0, 0, None, 9, 12),  # clipped at the parent's end
    ]
    assert spans.self_times(s)[0] == pytest.approx(10 - 6 - 1)


def test_tracer_tags_jobs_with_the_innermost_open_span():
    seen: list[str] = []
    ticks = iter(range(100))
    t = spans.Tracer(set_property=seen.append, clock=lambda: float(next(ticks)))
    with t.span("outer", "a"):
        with t.span("inner", "b"):
            pass
        with t.span("inner2", None):
            pass
    assert seen == ["0", "1", "0", "2", "0", ""]
    assert [(s.name, s.parent) for s in t.spans] == [("outer", None), ("inner", 0), ("inner2", 0)]
    assert t.spans[1].duration == 1.0


def test_event_log_fixture():
    jobs = eventlog.read(str(FIXTURE))
    assert sorted(jobs) == [0, 1, 2]
    j0, j1, j2 = jobs[0], jobs[1], jobs[2]
    assert (j0.span, j1.span, j2.span) == (3, 5, None)
    # stage 1 is listed by both jobs but runs (and is charged) in job 0
    assert (j0.stages_run, j1.stages_run) == (2, 1)
    assert (j0.tasks.count, j0.tasks.failed, j0.tasks.run_ms, j0.tasks.gc_ms) == (4, 1, 320, 5)
    assert (j0.tasks.input, j0.tasks.shuffle_write) == (2000, 500)
    assert (j1.tasks.shuffle_read, j1.tasks.output) == (500, 42)
    assert (j0.succeeded, j2.succeeded) == (True, False)
    assert eventlog.busy_ms([j0, j1]) == 1000  # [1000,1500] U [1400,2000]
    assert eventlog.busy_ms([j0, j1, j2]) == 1100


def test_window_metrics_attribute_jobs_to_layers():
    s = _spans()
    jobs = eventlog.read(str(FIXTURE))  # job 0 in the checkpoint, job 1 in the sink
    m = layers.window_metrics(s, jobs, ("q", "absent"))
    assert m["plans.iterative.checkpoints"] == 0
    assert m["operators.graph.checkpoints"] == 1
    assert m["operators.graph.jobs"] == 1 and m["sink.jobs"] == 1
    assert m["operators.graph.tasks"] == 4
    assert m["operators.graph.self_s"] == 3.0 and m["operators.text.self_s"] == 1.0
    assert m["spark.jobs_per_pass"] == 2 and m["spark.tasks_failed"] == 1
    assert m["spark.job_busy_s"] == 1.0
    assert m["spark.driver_gap_s"] == 9.0
    assert m["query.q.jobs"] == 2 and m["query.q.p50_s"] == 8.0
    assert m["query.absent.p50_s"] == 0
    assert set(layers.names(("q", "absent"))) == set(m) | {
        "session.get_spark_s",
        "session.jvm_peak_rss_mb",
        "trace.overhead_s",
    }


def test_install_wraps_every_holder_and_restores():
    pytest.importorskip("pyspark")
    from pagerank_mapreduce_implementation_spark import programs
    from pagerank_mapreduce_implementation_spark.sources import catalog

    class FakeFrame:
        def localCheckpoint(self, eager=True):
            return "lc"

        def checkpoint(self, eager=True):
            return "cp"

    original = catalog.write_text_kv
    original_checkpoint = FakeFrame.checkpoint
    t = spans.Tracer()
    installed = spans.install(t, FakeFrame)
    try:
        # programs bound its own name with ``from ... import``
        assert programs.write_text_kv is catalog.write_text_kv is not original
        assert FakeFrame().localCheckpoint() == "lc"
        assert [(x.name, x.layer) for x in t.spans] == [("checkpoint", None)]
    finally:
        installed.restore()
    assert programs.write_text_kv is catalog.write_text_kv is original
    assert FakeFrame.checkpoint is original_checkpoint


def test_oracle_comparison_is_exact():
    want = normalize(pd.DataFrame({"b": [2.0, 1.0], "a": ["y", "x"]}))
    assert mismatch(pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.0]}), want) is None
    assert "rows" in mismatch(pd.DataFrame({"a": ["x"], "b": [1.0]}), want)
    assert mismatch(pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.0000001]}), want)
    assert "integer vs float" in mismatch(pd.DataFrame({"a": ["x", "y"], "b": [1, 2]}), want)
    assert "columns" in mismatch(pd.DataFrame({"A": ["x", "y"], "b": [1.0, 2.0]}), want)


@pytest.mark.parametrize("n", [1, 2, 3, 4, 5])
def test_traced_window_halves_are_balanced(n):
    """Half the passes carry spans, and for an even half count both
    halves have the same mean position in the window."""
    traced = [i for i in range(2 * n) if is_traced(i)]
    untraced = [i for i in range(2 * n) if not is_traced(i)]
    assert len(traced) == len(untraced) == n
    if n % 2 == 0:
        assert sum(traced) == sum(untraced)
    assert abs(sum(traced) - sum(untraced)) <= n


def test_generated_inputs_have_the_repository_shapes(tmp_path):
    """The measured shapes of the repository's sf0.1 tables (README.md,
    "Input shapes"), checked at the text_search scale."""
    import pyarrow.parquet as pq

    scale = WORKLOADS["text_search"].scale
    out = datagen.generate(str(tmp_path), 5, scale)
    docs = pq.read_table(f"{out}/documents.parquet").to_pandas()
    words = docs.text.str.split()
    lengths = words.str.len()
    assert len(docs) == 5_000
    assert lengths.min() == 10 and lengths.max() == 100
    assert 53.5 < lengths.mean() < 56.5
    vocab = set(w for ws in words for w in ws)
    assert len(vocab) == 31 and "dup" in vocab
    dup_share = sum(ws.count("dup") for ws in words) / lengths.sum()
    assert 0.0005 < dup_share < 0.0015
    assert (docs.source == "src" + (docs.doc_id % 20).astype(str)).all()
    assert (docs.n_chars == docs.text.str.len()).all()
    assert 0.37 < (docs.lang == "en").mean() < 0.43
    li = pq.read_table(f"{out}/lineitem.parquet").to_pandas()
    assert li.l_partkey.between(0, scale.parts - 1).all()
    assert li.l_suppkey.between(0, scale.suppliers - 1).all()
    assert li.l_orderkey.between(0, scale.lineitems // 4 - 1).all()
    assert abs(li.l_partkey.corr(li.l_suppkey)) < 0.05
    # same seed, same bytes
    again = datagen.generate(str(tmp_path / "again"), 5, scale)
    for t in datagen.TABLES:
        assert Path(again, f"{t}.parquet").read_bytes() == Path(out, f"{t}.parquet").read_bytes()


def test_without_the_engine_it_fails_fast(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(HERE.parent / "BENCHMARK.json", tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "text_search", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0 and out.stdout == ""


@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run_prints_the_contract_line(trace):
    """sf0.001-sized inputs, one pass per window: about a minute."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "text_search", "--seed", "3",
         "--seconds", "1", "--trace", trace, "--smoke"],
        cwd=HERE.parent, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] == (12 if trace == "0" else 24)
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    want = spec["end_to_end"] if trace == "0" else spec["per_layer"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    if trace == "0":
        assert all(v["value"] > 0 for v in result["metrics"].values())
