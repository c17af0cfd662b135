"""Smoke test of the benchmark itself.

    python3 -m pytest perfbench -q

The tiny runs take about 2 minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import checks, eventlog
from perfbench.trace import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=300)


def test_recorded_event_log():
    """Two job groups of a recorded traced curate_dup run (the docs
    stage of the KG pipeline over 1,000 pages, and the dedup stage over
    the same pages plus 150 duplicates), cut down to the events and
    fields the parser reads."""
    groups = eventlog.profile(os.path.join(HERE, "testdata",
                                           "events.jsonl"))
    assert set(groups) == {"full:kg.docs", "full:curate.dedup"}
    docs, dedup = groups["full:kg.docs"], groups["full:curate.dedup"]
    assert (docs.jobs, docs.tasks, docs.py_rows) == (2, 5, 1000)
    assert docs.shuffle_mb == 0.0
    assert (dedup.jobs, dedup.tasks, dedup.py_rows) == (14, 49, 4268)
    assert dedup.shuffle_mb > 0 and dedup.cpu_s > 0 and dedup.gc_s > 0
    assert dedup.skew >= 1.0
    # the minhash signature UDF runs once per page on each of the three
    # plan branches that read the signatures; every candidate pair sent
    # to the exact Jaccard verify passes it
    assert eventlog.udf_filter_rows(dedup, "sig_udf") == (3450, 0)
    assert eventlog.udf_filter_rows(dedup, "jac") == (818, 818)


def test_traced_run_needs_one_complete_event_log(tmp_path):
    """No log, or one without the application-end event (the recorded
    log is cut before it), fails the traced run instead of reading
    every event-log metric as 0."""
    tracer = Tracer(str(tmp_path))
    with pytest.raises(RuntimeError):
        tracer.metrics(4, {})
    shutil.copy(os.path.join(HERE, "testdata", "events.jsonl"),
                tracer.event_dir)
    with pytest.raises(RuntimeError):
        tracer.metrics(4, {})


def test_resume_check_allows_float_rounding_only():
    """A resumed pagerank differs from the full run's in the last bits
    (2.8e-17 on a rank of ~6e-4, seen on curate_dup); anything more is a
    different row."""
    full = [("a", 0.1 + 0.2), ("b", 6e-4)]
    assert checks.same_rows(full, [("a", 0.3), ("b", 6e-4 + 2.8e-17)])
    assert not checks.same_rows(full, [("a", 0.3), ("b", 6.1e-4)])
    assert not checks.same_rows(full, [("a", 0.3), ("c", 6e-4)])
    assert not checks.same_rows(full, full[:1])


@pytest.mark.parametrize("workload,trace,section", [
    ("kg_light", "0", "end_to_end"),
    ("curate_dup", "1", "per_layer"),
])
def test_tiny_run_emits_every_metric(workload, trace, section):
    p = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds",
             "1", "--trace", trace, "--pages", "50")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stdout[-3000:]
    want = {m["name"]: m["unit"] for m in _bench()[section]}
    got = {k: m["unit"] for k, m in result["metrics"].items()}
    assert got == want
    assert all(isinstance(m["value"], (int, float))
               for m in result["metrics"].values())
    if section == "per_layer":
        # read from the event log, which must have been found and parsed
        for k in ("kg.docs.jobs", "kg.docs.py_rows", "curate.dedup.jobs"):
            assert result["metrics"][k]["value"] > 0, k


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench")
    p = _run(str(tmp_path), "--workload", "kg_light", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
