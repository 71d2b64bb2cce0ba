"""Dump .explain("formatted") for registered queries to files.

Optimization-round evidence capture (guide §1): the formatted physical
plan of each query, written to plans/<tag>/<query>_<suffix>.txt so
plan-shape claims (Exchange count, join strategy, PushedFilters,
BatchEvalPython nodes) are committed artifacts, not prose.

Usage:
  python tools/dump_plans.py --out plans/r12 --suffix before [QUERY ...]

With no QUERY args, dumps every bench HEADLINE query.  Plans in the
bench's session (``tools/harness.py``), so the captured plan is the
one the bench actually runs.
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bitcoin_datawarehouse_spark.registry import (  # noqa: E402
    QUERIES,
    load_all_operators,
)
from bitcoin_datawarehouse_spark.functions.cachereg import (  # noqa: E402
    release_tracked_caches,
)
from tools.harness import session  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="plans/r12")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf-dir", default=None)
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    sf_dir = args.sf_dir or os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    load_all_operators()
    names = args.queries
    if not names:
        import bench

        names = list(bench.HEADLINE)
    out_dir = Path(__file__).resolve().parent.parent / args.out
    out_dir.mkdir(parents=True, exist_ok=True)

    spark = session("dump-plans", sf_dir)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        # DataFrame.explain prints; capture via the internal API
        txt = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        (out_dir / f"{name}_{args.suffix}.txt").write_text(txt)
        release_tracked_caches()
        print(f"wrote {name}_{args.suffix}.txt", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
