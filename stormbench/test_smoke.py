"""Smoke test of the benchmark itself: every workload runs at tiny size
and prints every end-to-end metric with its unit and a passing output
check. Run from the root of the repository:

    python -m pytest stormbench/test_smoke.py -q
"""

from __future__ import annotations

import hashlib
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

import gen

ROOT = Path(__file__).resolve().parent.parent
BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "stormbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
def test_workload_prints_every_end_to_end_metric(workload):
    proc = _run(ROOT, workload, trace=0)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    proc = _run(ROOT, "storm_stream", trace=1)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is True
    declared = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert result["metrics"]["functions.enrich_call_ms"]["value"] > 0
    assert result["metrics"]["streaming.jobs_per_batch"]["value"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "stormbench", tmp_path / "stormbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, "storm_stream", trace=0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def _digest(directory: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(directory.rglob("*")):
        if f.is_file():
            h.update(f.name.encode() + f.read_bytes())
    return h.hexdigest()


def test_inputs_depend_only_on_the_seed(tmp_path):
    def make(name, seed):
        out = tmp_path / name
        gen.write_tables(str(out / "t"), seed, {"documents": 50, "embeddings": 20})
        truth = gen.write_envelopes(str(out / "e"), seed, 0, 3, 100)
        return _digest(out), [t.expected_sink_rows for t in truth]

    assert make("a", 5) == make("b", 5)
    assert make("a2", 5)[0] != make("c", 6)[0]
