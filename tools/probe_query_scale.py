"""Generic decade probe: any registered query across fixture dirs.

Decade-probe discipline (CLAUDE.md): ONE warmed session, the query
forced end-to-end with the noop sink, two timed runs per fixture,
tracked kernel caches released between runs so every number is
per-plan.  Prints one JSON line per fixture:

  {"query": ..., "dir": ..., "rows": N, "runs_s": [r1, r2]}

Usage: python tools/probe_query_scale.py QUERY DIR [DIR ...]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bitcoin_datawarehouse_spark.registry import (  # noqa: E402
    QUERIES,
    load_all_operators,
)
from bitcoin_datawarehouse_spark.session import get_spark  # noqa: E402
from bitcoin_datawarehouse_spark.functions.cachereg import (  # noqa: E402
    release_tracked_caches,
)


def main() -> int:
    if len(sys.argv) < 3:
        print("usage: probe_query_scale.py QUERY DIR [DIR ...]")
        return 2
    name, dirs = sys.argv[1], sys.argv[2:]
    load_all_operators()
    fn = QUERIES[name]
    spark = get_spark(f"{name}-probe", shuffle_partitions=96)

    # warm codegen/JIT/Arrow against the first (smallest) dir
    fn(spark, dirs[0]).write.format("noop").mode("overwrite").save()
    release_tracked_caches()

    for d in dirs:
        runs = []
        rows = None
        for _ in range(2):
            t0 = time.time()
            df = fn(spark, d)
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 1))
            release_tracked_caches()
        rows = fn(spark, d).count()
        release_tracked_caches()
        print(
            json.dumps(
                {"query": name, "dir": d, "rows": rows, "runs_s": runs}
            ),
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
