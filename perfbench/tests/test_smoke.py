"""Smoke run of both workloads on tiny inputs (a few minutes).

Runs the benchmark command line documented in ``run.py`` with
``--smoke``, and checks the output contract: the last stdout line is one
JSON object with every end-to-end (``--trace 0``) or per-layer
(``--trace 1``) metric of BENCHMARK.json, and no op failed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_end_to_end(workload):
    out = _run(workload, 0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_smoke_traced_sync():
    out = _run("warehouse_sync", 1)
    assert out["correct"]
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert set(m) == {x["name"] for x in SPEC["per_layer"]}
    assert m["pipeline.run_child_coverage"] >= 0.9
    assert m["spark.jobs"] == int(m["spark.jobs"]) > 0
    assert m["jobs.control_calls"] == 11  # scan + start/end for five jobs
    assert m["source.rows"] > 0 and m["catalog.write_calls"] > 0


def test_missing_program_fails_fast(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for p in (ROOT / "perfbench").glob("*.py"):
        (tmp_path / "perfbench" / p.name).write_text(p.read_text())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_curation",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
