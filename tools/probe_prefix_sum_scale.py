"""Distributed prefix-sum primitive decade probe (r9 VERDICT item 5).

``with_global_prefix_sum`` (functions/ranking.py) is the scan behind
``trainprep_curriculum_pack`` and ``trainprep_pack_sequences``: range
partition on the order key → per-partition local prefix → broadcast
per-partition offsets.  The law under test — the RANGE-EXCHANGE law —
is that cost is ONE range exchange of the input frame (plus the
bounded sampling pre-pass and a #partitions-row offset table), i.e.
shuffle/run stays a small constant multiple of the frame bytes and
wall grows ~linearly per decade, with NO single-task window anywhere.

Probed on a SYNTHETIC frame (spark.range + arithmetic key) so the
number is the primitive's, not a text kernel's; pair with
tools/probe_query_scale.py trainprep_curriculum_pack for the
composite walls.  Two timed runs per size (decade two-run rule);
shuffle ledger read from the UI REST API per run (delta).

Prints one JSON line per (rows, run):

  {"rows": N, "run": i, "s": t, "stages": d, "shuffle_write_mb": d,
   "peak_stage_mb": d, "max_task_ms": d}

Usage: python tools/probe_prefix_sum_scale.py [ROWS ...]
       (default 5000000 50000000)
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bitcoin_datawarehouse_spark.functions.ranking import (  # noqa: E402
    with_global_prefix_sum,
)
from bitcoin_datawarehouse_spark.session import get_spark  # noqa: E402


def stages(spark) -> list[dict]:
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app}/stages?status=complete"
    ) as r:
        return json.load(r)


def ledger(spark, before: list[dict]) -> dict:
    seen = {(s["stageId"], s["attemptId"]) for s in before}
    new = [
        s
        for s in stages(spark)
        if (s["stageId"], s["attemptId"]) not in seen
    ]
    w = [s.get("shuffleWriteBytes", 0) for s in new]
    return {
        "stages": len(new),
        "shuffle_write_mb": round(sum(w) / 1e6, 1),
        "peak_stage_mb": round(max(w, default=0) / 1e6, 1),
    }


def frame(spark, n: int):
    # deterministic pseudo-random order key (NOT the row id), so the
    # range exchange genuinely re-sorts; v is the summed quantity
    return spark.range(n).selectExpr(
        "id AS doc_id",
        "(id * 2654435761) % 1000003 AS key",
        "id % 97 + 5 AS v",
    )


def main() -> int:
    sizes = [int(a) for a in sys.argv[1:]] or [5_000_000, 50_000_000]
    spark = get_spark(
        "prefix-sum-probe",
        shuffle_partitions=96,
        extra_conf={"spark.ui.enabled": "true"},
    )

    def once(n: int) -> None:
        df = with_global_prefix_sum(
            frame(spark, n),
            ["key", "doc_id"],
            "v",
            prefix_alias="off",
            total_alias="_tot",
        )
        df.write.format("noop").mode("overwrite").save()
        # the scan's eager localCheckpoint blocks are RDD-owned and
        # reclaimed by the ContextCleaner only once the py4j reference
        # dies (CLAUDE.md) — drop it explicitly or run 2 measures the
        # GC fight against run 1's resident blocks, not the plan
        # (observed: 16 s vs 50-72 s at 50M rows)
        del df
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()

    once(sizes[0] // 10)  # warm codegen/JIT
    for n in sizes:
        for i in range(2):
            before = stages(spark)
            t0 = time.time()
            once(n)
            out = {
                "rows": n,
                "run": i,
                "s": round(time.time() - t0, 1),
                **ledger(spark, before),
            }
            print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
