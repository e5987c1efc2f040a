"""``BENCHMARK.json`` matches the metric catalog and its limits, and the
command prints exactly the metrics it names."""

import json
import math
import os
import re
import shutil
import subprocess
import sys

import pytest

from perfbench.metrics import benchmark_json
from perfbench.run import WORKLOADS, build_result

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_benchmark_json_is_the_catalog():
    assert _bench() == benchmark_json()


def test_benchmark_json_limits():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")) <= 64 * 1024
    assert 1 <= b["run_seconds"] <= 60 and isinstance(b["run_seconds"], int)
    assert 2 <= len(b["workloads"]) <= 8
    assert 1 <= len(b["end_to_end"]) <= 16 and 1 <= len(b["per_layer"]) <= 128
    names = [w["name"] for w in b["workloads"]]
    names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in b["end_to_end"] + b["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def _stub() -> dict:
    return {
        "setup_s": [1.0, 2.0, 3.0],
        "e2e": {"latency_ms": 5.0, "throughput_per_s": 2.0},
        "layer": {},
        "attempted": 10,
        "failed": 0,
        "correct": True,
    }


@pytest.mark.parametrize("trace", [0, 1])
def test_result_names_every_metric(trace):
    b = _bench()
    out = build_result(_stub(), trace=bool(trace), calibration=0.5, nproc=4,
                       peak_rss_mb=100.0, trace_layers={"bench": 1.0}, trace_wall=1.0,
                       n_spans=3)
    listed = b["per_layer"] if trace else b["end_to_end"]
    assert list(out["metrics"]) == [m["name"] for m in listed]
    for m in listed:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and math.isfinite(got["value"])
    assert out["correct"] is True and out["attempted"] == 10 and out["failed"] == 0


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    cmd = _bench()["command"] + ["--workload", next(iter(WORKLOADS)), "--seed", "1",
                                 "--seconds", "1", "--trace", "0"]
    cmd[0] = sys.executable
    p = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.skipif(not os.environ.get("PERFBENCH_E2E"), reason="set PERFBENCH_E2E=1 (starts Spark)")
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_command_prints_every_metric(workload, trace):
    b = _bench()
    cmd = b["command"] + ["--workload", workload, "--seed", "1", "--seconds", "1",
                          "--trace", str(trace)]
    cmd[0] = sys.executable
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    listed = b["per_layer"] if trace else b["end_to_end"]
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert [(k, v["unit"]) for k, v in out["metrics"].items()] == [
        (m["name"], m["unit"]) for m in listed
    ]
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
