"""Loader-layer scale probe: K6/K7 merge cost at fact scale.

Every sf-decade probe so far covered analytics/LLM kernels; this one
measures the ELT core itself — the reference's actual job (staged
upsert, ``pg_loader.py:165-270``) — at a date-partitioned fact scale:

* generate an sf10 ``lineitem`` fact (60 M rows, ~2 500 ship days ≈
  24 k rows/day) with ``tools/gen_sf.py`` (DuckDB, single stage);
* seed TWO targets with it: a Hive-partitioned-by-day table and a
  plain (unpartitioned) table;
* merge the SAME 1-day batch (half updated rows, 10% new rows) into
  both through ``Loader.load_incremental`` — each target's layout on
  disk picks the touched-partition merge or the whole-table merge —
  and record wall clocks: the O(touched-days) vs O(history) claim,
  measured;
* verify every UNTOUCHED partition's files are byte-identical after
  the partitioned merge (md5 of every parquet file), and that the
  touched day holds exactly the expected merged rows.

Output: one JSON line per measurement (appended to stdout), suitable
for the SCALING.md table.  Scratch lives under /tmp (wiped first).

Usage:
    python tools/probe_loader_scale.py [FACT_PARQUET] [--factor N]

With no FACT_PARQUET the fact is generated from /root/testdata/sf0.1
at --factor (default 100 → sf10).
"""

from __future__ import annotations

import hashlib
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SCRATCH = Path("/tmp/loader_scale_probe")
PART_COL = "l_day"
#: the merge keys include the partition day — the loader's documented
#: discipline (keys must determine the partition column), and the
#: synthetic fixture is only key-unique once the day participates
#: (it is then deduped once at probe setup so the ledger is exact)
KEYS = ["l_orderkey", "l_linenumber", PART_COL]
NEW_KEY_OFFSET = 10**12


def md5_tree(root: Path, skip_dir: str | None = None) -> dict[str, str]:
    out: dict[str, str] = {}
    for p in sorted(root.rglob("*.parquet")):
        rel = str(p.relative_to(root))
        if skip_dir and rel.startswith(skip_dir):
            continue
        out[rel] = hashlib.md5(p.read_bytes()).hexdigest()
    return out


def emit(**kv) -> None:
    print(json.dumps(kv), flush=True)


def main() -> int:
    argv = sys.argv[1:]
    factor = 100
    if "--factor" in argv:
        i = argv.index("--factor")
        factor = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    args = [a for a in argv if not a.startswith("--")]

    if SCRATCH.exists():
        shutil.rmtree(SCRATCH)
    SCRATCH.mkdir(parents=True)

    if args:
        fact_parquet = args[0]
    else:
        gen_dir = SCRATCH / "gen"
        t0 = time.perf_counter()
        subprocess.run(
            [
                sys.executable,
                str(REPO / "tools" / "gen_sf.py"),
                "/root/testdata/sf0.1",
                str(gen_dir),
                str(factor),
                "--tables",
                "lineitem",
            ],
            check=True,
        )
        emit(step="generate_fact", factor=factor,
             sec=round(time.perf_counter() - t0, 1))
        fact_parquet = str(gen_dir / "lineitem.parquet")

    from pyspark.sql import functions as F

    from bitcoin_datawarehouse_spark.pipeline.catalog import Warehouse
    from bitcoin_datawarehouse_spark.pipeline.loader import Loader
    from bitcoin_datawarehouse_spark.session import get_spark

    spark = get_spark()
    # materialize a KEY-UNIQUE fact once (the loader's upsert would
    # otherwise dedupe the seed itself and the row ledger below gets
    # un-checkable); reading it back gives a stable frame across the
    # probe's many evaluations
    src = str(SCRATCH / "fact_src.parquet")
    (
        spark.read.parquet(fact_parquet)
        .withColumn(PART_COL, F.date_format("l_shipdate", "yyyy-MM-dd"))
        .dropDuplicates(KEYS)
        .write.mode("overwrite")
        .parquet(src)
    )
    fact = spark.read.parquet(src)
    n_rows = fact.count()
    days = [r[0] for r in fact.select(PART_COL).distinct().collect()]
    target_day = sorted(days)[len(days) // 2]
    emit(step="fact_ready", rows=n_rows, days=len(days), day=target_day)

    # the 1-day batch: every row of the day, half with an updated
    # measure, plus 10% brand-new rows (offset keys, same day)
    day_rows = fact.filter(F.col(PART_COL) == target_day)
    n_day = day_rows.count()
    updated = day_rows.withColumn(
        "l_quantity",
        F.when(F.col("l_linenumber") % 2 == 0,
               F.col("l_quantity") + 1).otherwise(F.col("l_quantity")),
    )
    # deterministic new-row subset (a limit() here re-evaluates to a
    # different subset per consumer and breaks count accounting)
    new_rows = day_rows.filter(
        (F.col("l_linenumber") == 1) & (F.col("l_orderkey") % 7 == 0)
    ).withColumn("l_orderkey", F.col("l_orderkey") + NEW_KEY_OFFSET)
    # MATERIALIZE the batch: leaving it as a filter over the 60M-row
    # source makes every loader action re-scan the whole history to
    # extract one day — a probe artifact that dominated the first
    # measurement (a real pipeline's daily batch ARRIVES as the new
    # data; it is not carved out of the target per merge)
    batch_path = str(SCRATCH / "batch.parquet")
    updated.unionByName(new_rows).write.mode("overwrite").parquet(
        batch_path
    )
    batch = spark.read.parquet(batch_path)
    n_new = new_rows.count()
    emit(step="batch_ready", day_rows=n_day, new_rows=n_new)

    wh = Warehouse(spark, str(SCRATCH / "wh"))

    # ---- partitioned target --------------------------------------------
    part_loader = Loader(wh, "probe", "fact_part")
    t0 = time.perf_counter()
    part_loader.load_incremental(fact, KEYS, partition_col=PART_COL)
    emit(step="seed_partitioned", sec=round(time.perf_counter() - t0, 1))

    part_path = Path(str(wh.table_path("probe", "fact_part")))
    before = md5_tree(part_path, skip_dir=f"{PART_COL}={target_day}")

    t0 = time.perf_counter()
    part_loader.load_incremental(batch, KEYS)
    t_part = time.perf_counter() - t0
    emit(step="merge_partitioned_1day", sec=round(t_part, 1))

    after = md5_tree(part_path, skip_dir=f"{PART_COL}={target_day}")
    assert before == after, (
        "untouched partitions NOT byte-identical: "
        f"{len(set(before.items()) ^ set(after.items()))} diffs"
    )
    emit(step="untouched_partitions_byte_identical",
         files=len(before), ok=True)

    got = spark.read.parquet(str(part_path))
    got_day = got.filter(F.col(PART_COL) == target_day)
    n_got, n_got_day = got.count(), got_day.count()
    expect_day = n_day + n_new
    emit(step="merged_day_counts", got_total=n_got, got_day=n_got_day,
         expect_day=expect_day, expect_total=n_rows + n_new)
    assert n_got_day == expect_day, (n_got_day, expect_day)
    assert n_got == n_rows + n_new, n_got
    n_updated = got_day.filter(
        (F.col("l_linenumber") % 2 == 0)
        & (F.col("l_orderkey") < NEW_KEY_OFFSET)
    ).count()
    emit(step="merged_day_verified", updated_candidate_rows=n_updated)

    # ---- unpartitioned target ------------------------------------------
    full_loader = Loader(wh, "probe", "fact_full")
    t0 = time.perf_counter()
    full_loader.load_full_refresh(fact)
    emit(step="seed_full", sec=round(time.perf_counter() - t0, 1))

    t0 = time.perf_counter()
    full_loader.load_incremental(batch, KEYS)
    t_full = time.perf_counter() - t0
    emit(step="merge_full_table_1day_batch", sec=round(t_full, 1))
    n_got_full = wh.read("probe", "fact_full").count()
    emit(step="merged_full_counts", got=n_got_full,
         expect=n_rows + n_new)
    assert n_got_full == n_rows + n_new, n_got_full

    emit(
        step="summary",
        rows=n_rows,
        batch_rows=n_day + n_new,
        merge_partitioned_sec=round(t_part, 1),
        merge_full_sec=round(t_full, 1),
        speedup=round(t_full / t_part, 1),
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
