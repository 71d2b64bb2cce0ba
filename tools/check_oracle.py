"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and (where present) the
matching ``oracle_sql()`` on DuckDB over the same parquet fixtures,
then compares row count, column names/order-insensitive values.
Exact comparison plus a float-tolerance report so decimal-sum
mismatches are caught before the driver sees them.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
       python tools/check_oracle.py [sf_dir] --window   # the driver's
       50-slot gate (registry.DRIVER_WINDOW) and nothing else
"""

from __future__ import annotations

import math
import sys
import time
from decimal import Decimal
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from bitcoin_datawarehouse_spark.session import get_spark  # noqa: E402
from bitcoin_datawarehouse_spark.tables import TABLES  # noqa: E402


def normalize(rows, cols):
    """Sort columns by name, then rows, mirroring the driver's
    order-insensitive compare."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if hasattr(v, "isoformat"):
                v = v.isoformat()
            elif isinstance(v, float):
                v = repr(v)
            elif isinstance(v, Decimal):
                # canonicalize by STRING, not numeric value: the
                # driver's hasher distinguishes Decimal('1.5') from
                # Decimal('1.5000000000') even though == does not —
                # rounds 1-2 proved value-equal decimals still
                # hash-fail, so surface scale/repr divergence here
                v = str(v)
            elif isinstance(v, list):
                v = repr(v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return [cols[i] for i in order], out


def main() -> int:
    # flags first, wherever they appear — `--window` as the only arg
    # must NOT silently bind as sf_dir (it used to, running all 105
    # queries against a nonexistent directory)
    argv = sys.argv[1:]
    window = "--window" in argv
    positional = [a for a in argv if a != "--window"]
    for a in positional:
        if a.startswith("-"):
            print(f"unknown flag {a!r}", file=sys.stderr)
            return 2
    sf_dir = positional[0] if positional else "/root/testdata/sf0.01"
    only = set(positional[1:])
    if window and only:
        print(
            "--window selects exactly registry.DRIVER_WINDOW; "
            "combining it with explicit query names is ambiguous",
            file=sys.stderr,
        )
        return 2
    if window:
        from bitcoin_datawarehouse_spark.registry import DRIVER_WINDOW

        only = set(DRIVER_WINDOW)

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qmap = entrymod.queries()
    omap = entrymod.oracle_sql()
    # release per-operator kernel caches between queries: the 100+
    # query sweep would otherwise stack corpus-sized cache entries
    # (and CacheManager plan-dedup would let later queries ride
    # earlier queries' caches — harmless for correctness, but the
    # memory footprint scales with the registry)
    from bitcoin_datawarehouse_spark.functions.cachereg import (
        release_tracked_caches,
    )

    run = {n: f for n, f in qmap.items() if not only or n in only}
    failures = []
    for name, fn in sorted(run.items()):
        release_tracked_caches()
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in omap:
            # mirror the driver's rows-only canonicalization: a pandas
            # sort over every column — dies on unsortable (array) cells,
            # which r01 proved the plain repr-sort here does not catch.
            # Single toPandas execution; no separate collect (these are
            # the heaviest Arrow-kernel plans in the mirror).
            try:
                pdf = sdf.toPandas()
                pdf.sort_values(by=list(pdf.columns))
            except Exception as e:  # noqa: BLE001
                print(f"FAIL  {name}: rows-only canonicalize error: {e}")
                failures.append(name)
                continue
            print(
                f"ok?   {name}: rows-only ({len(pdf)} rows, "
                f"{time.time()-t0:.1f}s) [no oracle]"
            )
            continue
        try:
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        try:
            res = con.execute(omap[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue

        if sorted(scols) != sorted(ocols):
            print(f"FAIL  {name}: columns {sorted(scols)} vs {sorted(ocols)}")
            failures.append(name)
            continue
        if len(srows) != len(orows):
            print(f"FAIL  {name}: rowcount {len(srows)} vs {len(orows)}")
            failures.append(name)
            continue
        ncols, nsrows = normalize(srows, scols)
        _, norows = normalize(orows, ocols)
        if nsrows == norows:
            print(f"OK    {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            continue
        # find first diff + measure float distance
        n_diff = 0
        max_rel = 0.0
        example = None
        for a, b in zip(nsrows, norows):
            if a != b:
                n_diff += 1
                if example is None:
                    example = (a, b)
                for x, y in zip(a, b):
                    # normalized float cells are repr() strings; parse
                    # with float() directly (never eval untrusted data)
                    try:
                        fx, fy = float(x), float(y)
                    except (TypeError, ValueError):
                        continue
                    if math.isfinite(fx) and math.isfinite(fy) and fx != fy:
                        rel = abs(fx - fy) / max(abs(fx), abs(fy), 1e-300)
                        max_rel = max(max_rel, rel)
        print(
            f"FAIL  {name}: {n_diff}/{len(srows)} rows differ "
            f"(max float rel-diff {max_rel:.2e})\n"
            f"      spark:  {example[0]}\n      oracle: {example[1]}"
        )
        failures.append(name)

    print(
        f"\n{len(run) - len(failures)}/{len(run)} queries pass"
        + (f" (of {len(qmap)} registered)" if only else "")
        + (f"; FAILURES: {failures}" if failures else "")
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
