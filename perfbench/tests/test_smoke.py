"""Tiny-size runs of every workload through the command line. Slow (a
Spark session each): run with ``python3 -m pytest perfbench/tests``."""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(*args):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=ROOT, capture_output=True,
        text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace", [
    ("docstore_1m", 0), ("docstore_1m", 1), ("store_crud", 0), ("store_crud", 1),
    ("entries_sf0.01", 0),
])
def test_tiny_run_is_correct(workload, trace):
    out = run("--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace),
              "--scale", "tiny")
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    for m in out["metrics"].values():
        assert set(m) == {"value", "unit"} and isinstance(m["value"], (int, float))
    if trace:
        from pb.report import per_layer_names

        assert set(out["metrics"]) == set(per_layer_names(workload))
        assert out["metrics"]["trace_overhead"]["value"] > 0
    elif workload != "entries_sf0.01":
        names = {m["name"] for m in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["end_to_end"]}
        assert set(out["metrics"]) == names
        assert all(m["value"] > 0 for m in out["metrics"].values())


def test_refuses_to_run_without_the_engine(tmp_path):
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "docstore_1m", "--seed", "1",
         "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True, text=True,
        timeout=120)
    assert proc.returncode != 0 and proc.stdout == ""
