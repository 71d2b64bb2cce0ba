"""DuckDB comparator for the bench.py headline set.

Times every headline query's registered SQL oracle on DuckDB over the
same parquet fixtures (default sf0.1), with the same methodology as
bench.py: one untimed warm run, then best-of-3, result fully
materialized (fetchall) but not printed.  Emits ONE JSON line:
{"metric": "duckdb_headline_total_wall", "value": sec,
 "queries": {name: sec}, "sf": ...}.

Queries without a SQL oracle are skipped and listed under "skipped"
(engine-specific internals never make the headline set, so this is
normally empty).

Two modes:
* default ("parity"): the registered oracle strings verbatim.  These
  carry the cross-engine hash-parity routing (per-row
  double→STRING→DECIMAL casts, string-routed 6-dp rounds) that exists
  ONLY so the correctness gate can bit-compare engines — measured to
  dominate DuckDB's runtime on the money-sum queries (pricing_summary
  9.4 s vs 0.35 s natural at sf0.1).
* ``--natural``: the SQL a native DuckDB user would write — plain
  double SUM/ROUND, no string routes.  Implemented by swapping the
  numeric SQL helpers for natural equivalents BEFORE the operator
  modules build their oracle f-strings.  This is the honest
  throughput comparator (bench.py's Spark numbers still pay Spark's
  own parity arithmetic, so the comparison is conservative for us).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _patch_natural() -> None:
    import bitcoin_datawarehouse_spark.functions.numeric as numeric

    numeric.SQL_DEC = lambda expr: f"CAST({expr} AS DECIMAL(38,10))"
    numeric.SQL_STR_ROUND6 = lambda expr: f"ROUND({expr}, 6)"
    numeric.SQL_DSUM = (
        lambda expr, alias: f"CAST(ROUND(SUM({expr}), 2) AS DOUBLE)"
        f" AS {alias}"
    )
    numeric.SQL_DAVG = (
        lambda expr, alias: f"ROUND(SUM({expr}) / COUNT({expr}), 6)"
        f" AS {alias}"
    )


def main() -> None:
    natural = "--natural" in sys.argv
    if natural:
        _patch_natural()

    from bench import HEADLINE  # noqa: E402
    from bitcoin_datawarehouse_spark.registry import (  # noqa: E402
        ORACLES,
        load_all_operators,
    )
    from bitcoin_datawarehouse_spark.tables import TABLES  # noqa: E402
    from tools.harness import sf_of  # noqa: E402

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_of(sf_dir)

    load_all_operators()
    con = duckdb.connect()
    # DuckDB defaults to all cores — same hardware budget as local[32]
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    # per-query budget: once a query's warm run alone exceeds this,
    # its warm time is recorded as-is and the best-of-3 repeats are
    # skipped — at sf ≥ 1 the O(N²) audit oracles run for minutes and
    # would otherwise quadruple an already-long comparator run.  The
    # first-run time slightly overstates DuckDB's steady state, so
    # entries listed under "over_budget" are approximate (cite them
    # with "~" in SCALING.md), never exact best-of-3 numbers.
    budget = float(os.environ.get("DUCKDB_BENCH_QUERY_BUDGET_S", "120"))
    timings: dict[str, float] = {}
    skipped: list[str] = []
    over_budget: list[str] = []
    for name in HEADLINE:
        sql = ORACLES.get(name)
        if sql is None:
            skipped.append(name)
            continue
        t0 = time.time()
        con.execute(sql).fetchall()  # warm (parquet metadata, plan)
        warm = time.time() - t0
        if warm > budget:
            timings[name] = round(warm, 3)
            over_budget.append(name)
            print(f"{name}: {warm:.1f}s (over budget, warm-only)",
                  file=sys.stderr)
            continue
        # adaptive repeats (mirrors bench.py): ≥2.5s warm → the query
        # is plan-dominated, one timed run; below it the warm run
        # COUNTS toward best-of-3 (DuckDB has no JIT cliff — its first
        # run only pays parquet metadata, already amortized across the
        # whole set), so two more runs suffice
        reps = 1 if warm >= 2.5 else 2
        best = warm if warm < 2.5 else None
        for _ in range(reps):
            t0 = time.time()
            con.execute(sql).fetchall()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        timings[name] = round(best, 3)
        print(f"{name}: {best:.3f}s", file=sys.stderr)

    print(
        json.dumps(
            {
                "metric": "duckdb_headline_total_wall",
                "mode": "natural" if natural else "parity",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "skipped": skipped,
                "over_budget": over_budget,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
