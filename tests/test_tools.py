"""The measurement tools: ``bench.py`` and ``tools/*.py``.

No test runs the tools end to end (each needs a fixture and minutes), so
these pin what can rot silently: that every tool still imports against
the package, and which history entries a run compares itself with.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

from tools.harness import comparable_prev, shared_subset_vs_prev

ROOT = Path(__file__).resolve().parents[1]


def test_every_tool_imports():
    """Importing a tool binds the package internals it uses (QUERIES,
    release_tracked_caches, cache_tables, get_spark, ...), so a renamed
    symbol fails here rather than at the next manual run."""
    code = (
        "import importlib, pathlib, sys\n"
        "sys.path.insert(0, '.')\n"
        "import bench\n"
        "for p in sorted(pathlib.Path('tools').glob('*.py')):\n"
        "    importlib.import_module('tools.' + p.stem)\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr


def test_history_compares_only_same_sf_and_cpus(tmp_path):
    hist = tmp_path / "history.jsonl"
    lines = [
        {"ts": 1, "sf": 0.1, "cpus": 4, "queries": {"a": 1.0, "b": 2.0}},
        {"ts": 2, "sf": 0.1, "cpus": 32, "queries": {"a": 0.1}},
        {"ts": 3, "sf": 0.1, "queries": {"a": 0.2}},  # no cpus recorded
        {"ts": 4, "sf": 10.0, "cpus": 4, "queries": {"a": 9.0}},
        {"ts": 5, "sf": 0.1, "cpus": 4, "queries": {}},
    ]
    hist.write_text(
        "\n".join(json.dumps(x) for x in lines) + "\nnot json\n"
    )
    prev = comparable_prev(hist, 0.1, 4)
    assert prev["ts"] == 1
    assert comparable_prev(hist, 10.0, 4)["ts"] == 4
    assert comparable_prev(hist, 0.1, 32)["ts"] == 2
    # a history written before runs recorded their CPU count compares
    # with nothing
    assert comparable_prev(hist, 0.1, 8) is None
    assert comparable_prev(tmp_path / "missing.jsonl", 0.1, 4) is None

    assert shared_subset_vs_prev({"a": 1.5, "c": 7.0}, prev) == {
        "prev_ts": 1,
        "n_shared": 1,
        "spark_now_s": 1.5,
        "spark_prev_s": 1.0,
        "ratio_vs_prev": 1.5,
    }
