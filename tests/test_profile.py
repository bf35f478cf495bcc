"""scripts/profile.py: the per-query summary of a synthetic event log
(no JVM), and one end-to-end run in a subprocess (slow tier)."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
_spec = importlib.util.spec_from_file_location("profile_script", ROOT / "scripts" / "profile.py")
profile = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(profile)


def _job(jid, span, submit, end, stages):
    props = {} if span is None else {"perfbench.span": str(span)}
    return [
        {
            "Event": "SparkListenerJobStart",
            "Job ID": jid,
            "Submission Time": submit,
            "Stage IDs": stages,
            "Properties": props,
        },
        {
            "Event": "SparkListenerJobEnd",
            "Job ID": jid,
            "Completion Time": end,
            "Job Result": {"Result": "JobSucceeded"},
        },
    ]


def _stage(sid):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": sid}}


def _task(sid, ok=True, remote=0, local=0, written=0, read=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": sid,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Metrics": {
            "Shuffle Read Metrics": {"Remote Bytes Read": remote, "Local Bytes Read": local},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
            "Input Metrics": {"Bytes Read": read},
        },
    }


def _log():
    """Runs: 0 = a (2.0 s), 1 = b (1.0 s), 2 = a (1.5 s), 3 = b (1.2 s),
    4 = c (failed); plus an untagged warm-up job."""
    events = [
        *_job(0, None, 0, 900, [0]),  # warm-up: no span
        _stage(0),
        _task(0, read=10_000),
        *_job(1, 0, 1000, 2500, [1]),  # a, slower run
        _stage(1),
        _task(1, read=7),
        *_job(2, 1, 3000, 3250, [2]),  # b, fastest run
        _stage(2),
        _task(2, read=40),
        # a, fastest run: job 3 overlaps job 4; stage 4 is skipped
        *_job(3, 2, 5000, 5400, [3, 4]),
        _stage(3),
        _task(3, read=100, written=50),
        _task(3, ok=False),
        *_job(4, 2, 5300, 5600, [5]),
        _stage(5),
        _task(5, remote=30, local=20),
        *_job(5, 3, 6000, 6500, [6]),  # b, slower run
        _stage(6),
        _task(6, read=1),
    ]
    return [json.dumps(e) + "\n" for e in events]


def test_summary_counts_each_querys_fastest_run():
    runs = [("a", 2.0), ("b", 1.0), ("a", 1.5), ("b", 1.2), ("c", None)]
    got = profile.summarize(_log(), runs)
    assert list(got) == ["a", "b", "c"]
    assert got["a"] == {
        "wall_s": 1.5,
        "walls_s": [2.0, 1.5],
        "jobs": 2,
        "stages": 2,
        "tasks": 3,
        "failed_tasks": 1,
        "shuffle_read_bytes": 50,
        "shuffle_write_bytes": 50,
        "input_bytes": 100,
        "busy_s": 0.6,
        "driver_gap_s": 0.9,
    }
    b = got["b"]
    assert (b["wall_s"], b["walls_s"], b["jobs"], b["tasks"]) == (1.0, [1.0, 1.2], 1, 1)
    assert (b["input_bytes"], b["busy_s"], b["driver_gap_s"]) == (40, 0.25, 0.75)
    assert got["c"] is None


@pytest.mark.slow
def test_profile_script_end_to_end(sf_dir):
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "2g"}
    cmd = [sys.executable, "scripts/profile.py", "doc_word_count", "--sf-dir", sf_dir, "--reps", "1"]
    out = subprocess.run(
        cmd, cwd=ROOT, env=env, capture_output=True, text=True, timeout=600, check=True
    ).stdout
    queries = json.loads(out)["queries"]
    assert list(queries) == ["doc_word_count"]
    assert queries["doc_word_count"]["jobs"] > 0
