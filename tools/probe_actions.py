"""Trace every driver-side action a registered query executes.

Optimization-round instrument (guide §1): at sf0.1 the per-stage
scheduling floor dominates, so a query's wall is largely (number of
sequential driver actions) x (per-action floor).  This probe
monkeypatches the Python-side materialization points — collect /
count / isEmpty / toPandas / localCheckpoint / noop-writes /
saveAsTable — and prints one line per action with its wall seconds
and the caller, then the total.

Runs in the bench's session (``tools/harness.py``) over the fixture
in ``$SPARK_GRAFT_SF_DIR`` (the bench's default when unset).

Usage: python tools/probe_actions.py QUERY [QUERY ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Spark 4 classic-mode instances subclass pyspark.sql.DataFrame and
# OVERRIDE the action methods — patch the classic class, not the parent
from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402
from pyspark.sql.readwriter import DataFrameWriter  # noqa: E402

from bitcoin_datawarehouse_spark.functions.cachereg import (  # noqa: E402
    release_tracked_caches,
)
from bitcoin_datawarehouse_spark.registry import (  # noqa: E402
    QUERIES,
    load_all_operators,
)
from tools.harness import noop, session, warm  # noqa: E402

LOG: list[tuple[str, float, str]] = []
ENABLED = False


def _caller() -> str:
    for fr in reversed(traceback.extract_stack()):
        fn = fr.filename
        if "bitcoin_datawarehouse_spark" in fn:
            return f"{Path(fn).name}:{fr.lineno}:{fr.name}"
    return "?"


def _wrap(cls, name):
    orig = getattr(cls, name)

    def wrapper(self, *a, **kw):
        if not ENABLED:
            return orig(self, *a, **kw)
        t0 = time.time()
        out = orig(self, *a, **kw)
        LOG.append((name, time.time() - t0, _caller()))
        return out

    setattr(cls, name, wrapper)


for m in ("collect", "count", "isEmpty", "toPandas", "localCheckpoint"):
    _wrap(DataFrame, m)
for m in ("save", "saveAsTable", "parquet"):
    _wrap(DataFrameWriter, m)


def main() -> int:
    global ENABLED
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load_all_operators()
    spark = session("probe-actions", sf_dir)
    warm(spark, sf_dir)

    for name in names:
        fn = QUERIES[name]
        # untimed warm pass (bench methodology)
        noop(fn(spark, sf_dir))
        release_tracked_caches()
        LOG.clear()
        ENABLED = True
        t0 = time.time()
        noop(fn(spark, sf_dir))
        total = time.time() - t0
        ENABLED = False
        release_tracked_caches()
        print(f"=== {name}: total {total:.2f}s, {len(LOG)} actions")
        for op, dt, caller in LOG:
            print(f"  {dt:7.3f}s  {op:15s}  {caller}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
