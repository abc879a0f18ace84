"""Smoke test for the benchmark at tiny input size.

    python3 -m pytest perfbench/tests -q

Each workload runs once with ``--trace 1`` (which also measures the
untraced region), so one run shows every end-to-end metric in its report
line and every per-layer metric in its result line.  Takes a few minutes:
each run starts its own Spark JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


# largest share of op wall the trace may leave unexplained at tiny size
UNEXPLAINED_MAX = {"sql_batch": 0.5, "event_stream": 0.25}


def _metric_names(kind: str) -> set[str]:
    return {m["name"] for m in SPEC[kind]}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_prints_every_metric(workload):
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", "1", "--size", "tiny",
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    report, result = (json.loads(x) for x in p.stdout.strip().splitlines()[-2:])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert report["error_rate"] == 0
    assert set(result["metrics"]) == _metric_names("per_layer")
    assert set(report["end_to_end"]) == _metric_names("end_to_end")
    units = {m["name"]: m["unit"] for m in SPEC["per_layer"] + SPEC["end_to_end"]}
    for name, m in list(result["metrics"].items()) + list(report["end_to_end"].items()):
        assert m["unit"] == units[name]
        assert isinstance(m["value"], (int, float))
    # the sweep hands every instant of an op to some span ...
    assert report["trace_report"]["span_coverage"] == pytest.approx(1.0)
    # ... and most of it to a job, a stage or a streaming segment
    assert result["metrics"]["trace.unexplained_frac"]["value"] < UNEXPLAINED_MAX[workload]


def test_run_without_engine_fails_fast(tmp_path):
    """Run from a directory holding only the benchmark: no result line,
    non-zero exit."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    cmd = SPEC["command"] + [
        "--workload", "sql_batch", "--seed", "1", "--seconds", "1", "--trace", "0",
    ]
    p = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_tail_percentile_keeps_ten_samples_beyond():
    from run import tail

    values = [float(i) for i in range(1, 101)]
    pct, v = tail(values)
    assert (pct, v) == (90.0, 90.0)
    assert sum(1 for x in values if x > v) == 10


def test_self_times_add_up_to_op_wall():
    from tracer import self_times

    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 6.0},
        {"id": 3, "parent": 2, "start": 2.0, "end": 5.0},
        {"id": 4, "parent": 2, "start": 3.0, "end": 7.0},  # clipped to 6
    ]
    out = self_times(spans)
    assert sum(out.values()) == pytest.approx(10.0)
    assert out[1] == pytest.approx(5.0)
    assert out[3] == pytest.approx(1.0 + 0.5 * 2.0)


def test_oracle_accepts_sum_order_noise_only(tmp_path):
    """Doubles on either side of a half-cent still match; a real
    difference in the second decimal does not."""
    from oracle import Oracle

    o = Oracle(str(tmp_path))
    sql = "SELECT 6452 AS k, 531017.455000001::DOUBLE AS revenue"
    assert o.compare("q", sql, ["k", "revenue"], [(6452, 531017.454999999)]) == ""
    assert o.compare("q", sql, ["k", "revenue"], [(6452, 531017.47)]) != ""
