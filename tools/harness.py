"""The one measurement loop shared by ``bench.py`` and the tools.

* :func:`session` — the session the bench times, with the relational
  fixture tables pinned; ``tools/dump_plans.py`` and
  ``tools/probe_actions.py`` plan and trace the same session.
* :func:`warm` — one untimed pass that warms the JVM, the parquet
  footers and the Python worker pool.
* :func:`time_queries` — per query: one untimed warm pass, then an
  adaptive best-of-N through the noop sink, tracked kernel caches
  released around every run.
* :func:`comparable_prev` / :func:`shared_subset_vs_prev` /
  :func:`append_history` — the committed run histories
  (``bench_history.jsonl``, ``sf10_panel_history.jsonl``), compared
  only between runs at the same scale factor and CPU count.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from bitcoin_datawarehouse_spark.functions.cachereg import (
    release_tracked_caches,
)
from bitcoin_datawarehouse_spark.registry import QUERIES
from bitcoin_datawarehouse_spark.session import get_spark
from bitcoin_datawarehouse_spark.tables import cache_tables

#: Pinned hot (and correctly partitioned — the fixture parquet is one
#: input split): see tables.cache_tables.  documents/embeddings stay on
#: parquet: their array / long-string payload columns cache as generic
#: objects (no columnar encoding), and the Arrow kernels that consume
#: them scan once per query — measured slower from the block-manager
#: cache than from parquet.
CACHED_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events",
]


def sf_of(sf_dir: str) -> float | None:
    """The scale factor a fixture directory names (``.../sf0.1``)."""
    m = re.search(r"sf([\d.]+)", sf_dir)
    return float(m.group(1)) if m else None


def session(app_name: str, sf_dir: str) -> SparkSession:
    """The bench's session, with :data:`CACHED_TABLES` pinned.

    Fixed-small-SF profile (sf < 1 ≈ 100 MB working set): every
    shuffle in the headline set is far below one maxPartitionBytes, so
    the run is bounded by per-task launch and per-stage scheduling,
    not data movement.  Two knobs follow:
    * 8 shuffle partitions (not 32) — each shuffled stage still
      saturates memory bandwidth at this volume, and 3/4 of the task
      launches disappear (measured 10.4s → 7.2s over the set);
    * AQE off — adaptive execution materializes every shuffle stage
      and re-plans on the driver before scheduling the next; that
      insurance premium (~2s over the set here) only pays when sizes
      are unpredictable.
    At sf ≥ 1 the shuffles carry real volume, so the fixture profile
    must not leak there: the run uses the production-shaped profile
    (full core-count partitions, AQE ON for runtime broadcast
    conversion / skew splitting), matching session.cluster_conf's
    intent.
    """
    sf = sf_of(sf_dir)
    if sf is not None and sf >= 1:
        spark = get_spark(app_name, shuffle_partitions=32)
    else:
        spark = get_spark(
            app_name,
            shuffle_partitions=8,
            extra_conf={"spark.sql.adaptive.enabled": "false"},
        )
    cache_tables(spark, sf_dir, CACHED_TABLES)
    return spark


def noop(df: DataFrame) -> None:
    """Force ``df`` end to end with no driver-side collect."""
    df.write.format("noop").mode("overwrite").save()


def warm(spark: SparkSession, sf_dir: str) -> None:
    """Warm the JVM + parquet footers once, so per-query numbers
    measure the plan, not session startup — and the Python worker pool
    (pandas import + Arrow channel): several operators run vectorized
    mapInPandas stages, and the interpreter spawn would otherwise be
    billed to the first of them."""
    noop(QUERIES["pricing_summary"](spark, sf_dir))
    import pandas as _pd  # noqa: F401 — ensure driver-side import cached

    noop(spark.range(64).repartition(32).mapInPandas(lambda it: it, "id long"))
    release_tracked_caches()


def time_queries(
    spark: SparkSession,
    sf_dir: str,
    names: list[str],
    repeats: int,
    cutoff_s: float,
) -> dict[str, float]:
    """Best wall seconds per query: one untimed warm pass, then
    ``repeats`` timed runs — or one when the warm pass took
    ``cutoff_s`` or more.

    The warm pass absorbs the first execution of each distinct plan
    (whole-stage codegen + C2 JIT, measured 2-4× on the join-heavy
    queries) and the serve-only gates' one-time model build
    (ensure-if-missing): the warmed minimum is the reproducible cost of
    the PLAN.  Best-of-N exists because sub-2 s queries carry ±50%
    JVM/GC scheduling noise; a query whose warm pass already takes
    ``cutoff_s`` is plan-dominated, and every extra repeat costs what
    it measures.

    Tracked kernel caches are released around every run: Spark's
    CacheManager dedups by logical plan, so two queries sharing an
    identical intermediate would otherwise make per-query numbers
    order-dependent (measured at sf10: decontam_minhash_fuzzy 1.7 s
    riding dedup_minhash_lsh's shingle cache vs 17.0 s isolated).
    """
    timings: dict[str, float] = {}
    for name in names:
        fn = QUERIES[name]
        t0 = time.time()
        noop(fn(spark, sf_dir))
        warm_s = time.time() - t0
        release_tracked_caches()
        best = None
        for _ in range(1 if warm_s >= cutoff_s else repeats):
            t0 = time.time()
            noop(fn(spark, sf_dir))
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
            release_tracked_caches()
        timings[name] = best
        print(f"{name}: {best:.3f}s (warm {warm_s:.2f}s)", file=sys.stderr)
    return timings


def load_avg() -> list[float]:
    """The 1/5/15-minute load averages, so a reader can discount a run
    taken on a loaded machine."""
    return [round(x, 2) for x in os.getloadavg()]


def comparable_prev(path: Path, sf: float | None, cpus: int) -> dict | None:
    """The last entry of the history at ``path`` measured at the same
    ``sf`` and ``cpus``.  An entry that records no ``cpus`` is not
    comparable: a wall measured on 32 cores says nothing about one
    measured on 4."""
    prev = None
    if path.exists():
        for line in path.read_text().splitlines():
            try:
                cand = json.loads(line)
            except json.JSONDecodeError:
                continue
            if (
                cand.get("queries")
                and cand.get("sf") == sf
                and cand.get("cpus") == cpus
            ):
                prev = cand
    return prev


def shared_subset_vs_prev(timings: dict[str, float], prev: dict) -> dict:
    """This run's total against ``prev`` over the queries both
    measured — the round-over-round number that survives a changed
    query set."""
    pq = prev["queries"]
    shared = [n for n in timings if n in pq]
    now_s = sum(timings[n] for n in shared)
    prev_s = sum(pq[n] for n in shared)
    return {
        "prev_ts": prev.get("ts"),
        "n_shared": len(shared),
        "spark_now_s": round(now_s, 3),
        "spark_prev_s": round(prev_s, 3),
        "ratio_vs_prev": round(now_s / prev_s, 3) if prev_s > 0 else None,
    }


def append_history(path: Path, out: dict) -> None:
    """Append ``out`` as one line of the history at ``path``."""
    try:
        with path.open("a") as fh:
            fh.write(json.dumps(out) + "\n")
    except OSError:  # pragma: no cover - read-only checkout
        pass
