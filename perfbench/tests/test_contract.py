"""BENCHMARK.json against the metric definitions and its own limits, the
steadiness arithmetic, and run.py's refusal outside a checkout."""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import subprocess
import sys

from perfbench import metrics, steady

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_matches_definitions():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert [(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]] == [
        (n, u, bt) for n, (u, bt) in metrics.END_TO_END.items()]
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == [
        (n, u, bt) for n, u, bt, *_ in metrics.LAYERS]
    from perfbench.workloads import WORKLOADS
    assert all(w["name"] in WORKLOADS for w in b["workloads"])


def test_benchmark_json_limits():
    b = _bench()
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8
    assert 1 <= len(b["end_to_end"]) <= 16 and 1 <= len(b["per_layer"]) <= 128
    names = [w["name"] for w in b["workloads"]] + [
        m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and UNIT.match(m["unit"])
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in b["end_to_end"])
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    assert b["paths"] == ["perfbench"] and b["command"][1] == "perfbench/run.py"


def test_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 12.0]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    assert steady.spread(vals) == (med, q1, q3, (q3 - q1) / med)


def test_worse_by_follows_direction():
    assert steady.worse_by(100, 110, "lower") > 0.09
    assert steady.worse_by(100, 110, "higher") < 0
    spec = [{"name": "x_ms", "better": "lower", "bound": 0.1},
            {"name": "setup_s", "better": "lower", "bound": 0.25}]
    run = lambda x, s: {"metrics": {"x_ms": {"value": x}, "setup_s": {"value": s}}}  # noqa: E731
    a = [run(10 + i * 0.01, 30 + i * 5) for i in range(10)]
    b = [run(13 + i * 0.01, 30 + i * 5) for i in range(10)]
    rows = {r["metric"]: r for r in steady.summarize([a, b], spec)}
    assert rows["x_ms"]["spread_ok"] and not rows["x_ms"]["agree_ok"]
    # setup_s is held to its bound like every other metric
    assert not rows["setup_s"]["spread_ok"] and rows["setup_s"]["agree_ok"]


def test_pct_interpolates():
    assert metrics.pct([1, 2, 3, 4], 50) == 2.5
    assert metrics.pct([5], 95) == 5
    assert metrics.pct([], 50) == 0.0


def test_run_refuses_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                          "catalog_analytics", "--seed", "1", "--seconds", "1",
                          "--trace", "0"], cwd=tmp_path, capture_output=True,
                         text=True, timeout=60)
    assert out.returncode != 0 and out.stdout == ""
