"""Toy-size smoke test of the benchmark harness.

Runs every workload at toy size, untraced and traced, in one Spark
session, and checks that every metric BENCHMARK.json names is emitted
with its unit and that every output check passes.  Run with

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench.run import WORKLOADS, run_workload  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_and_checks(sess, workload):
    res = run_workload(sess, workload, seed=7, seconds=0, trace=False, toy=True)
    assert res["failed"] == 0, res["detail"]["checks"]
    assert res["correct"] and res["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        if m["name"] == "peak_rss_mb":  # sampled by the entry point
            continue
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_per_layer_metrics_and_checks(sess, workload):
    res = run_workload(sess, workload, seed=7, seconds=0, trace=True, toy=True)
    assert res["failed"] == 0, res["detail"]["checks"]
    names = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert set(res["metrics"]) == set(names)
    for name, unit in names.items():
        assert res["metrics"][name]["unit"] == unit
    m = {k: v["value"] for k, v in res["metrics"].items()}
    if workload == "wave-crawl":
        assert m["urls.canonicalize.rows"] == 0 and m["bloom.probe.rows"] == 0
        assert m["wave_loop.jobs_per_wave"] > 0 and m["snapshots.commit.files"] > 0
    else:
        assert m["frontier_stream.rebuilds"] >= 2
        assert m["urls.canonicalize.rows"] > 0 and m["bloom.probe.rows"] > 0
        assert m["bloom.build.items"] > 0 and m["politeness.gate.rows_in"] > 0
        # The four stage spans of the replica pass cover its wall.
        assert 0.9 <= m["frontier.stage_coverage"] <= 1.1


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    entry point exits non-zero and prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
