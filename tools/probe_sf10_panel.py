"""Per-round sf10 regression panel (r11 VERDICT item 2).

The driver benches at sf0.1, where the per-stage scheduling floor
dominates sub-2s queries (CLAUDE.md) and a plan regression can hide
entirely inside the noise.  This panel runs a fixed, family-covering
set of 21 registered queries against a deterministically scaled sf10
fixture ONCE per round, records the walls in a committed history
(``sf10_panel_history.jsonl``), and ALERTS on any query >1.5× its
previous recorded wall — the regression tripwire the fixture-scale
bench cannot be.

Decade-probe discipline (CLAUDE.md): one warmed session, noop sink,
tracked caches released between runs, two timed runs (min) below the
adaptive cutoff, one above — and numbers from a loaded machine are
suspect, so the run records load_avg alongside.

Usage:
  python tools/probe_sf10_panel.py [SF10_DIR]        # default /tmp/sf10_panel
  # the fixture is generated from sf0.1 (factor 100, single-stage,
  # Zipf-respecting head) iff the directory is missing.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bitcoin_datawarehouse_spark.functions.cachereg import (  # noqa: E402
    release_tracked_caches,
)
from bitcoin_datawarehouse_spark.registry import (  # noqa: E402
    QUERIES,
    load_all_operators,
)
from bitcoin_datawarehouse_spark.session import get_spark  # noqa: E402

#: Fixed panel — one per family, scale-stressing, NO O(N²) audit
#: queries (the exact pair grids are quadratic by design at sf10;
#: their LSH/semantic tiers are the production paths and are here).
PANEL = [
    # relational core / composed joins
    "pricing_summary",
    "join_star_regional_revenue",
    "tpch_q8_market_share",
    "tpch_q18_large_volume_customers",
    # windows / time
    "window_topk_per_group",
    "sessionize_events",
    "asof_join_daily_price",
    # dedup family (production tiers)
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine_lsh_auto",
    "dedup_semantic_semdedup_auto",
    # similarity / ANN
    "similarity_ivf_topk",
    "similarity_pq_adc_topk",
    # text analysis + model serving
    "text_quality_score",
    "text_lm_quality_approx",
    "text_bm25_topk",
    "text_quality_classifier_serve_only",
    "trainprep_dsir_serve_only",
    # composites + warehouse maintenance algebra
    "trainprep_full_curation",
    "pipeline_matview_append_combine",
    "pipeline_matview_classified_append",
]

ALERT_RATIO = 1.5
ADAPTIVE_CUTOFF_S = 10.0
HISTORY = Path(__file__).resolve().parent.parent / "sf10_panel_history.jsonl"


def _ensure_fixture(dst: str) -> None:
    if Path(dst, "documents.parquet").exists():
        return
    print(f"generating sf10 fixture at {dst} ...", file=sys.stderr)
    subprocess.run(
        [
            sys.executable,
            str(Path(__file__).resolve().parent / "gen_sf.py"),
            "/root/testdata/sf0.1",
            dst,
            "100",
            # the synthetic corpus has a ~31-token vocabulary; K=10
            # shares only its stopword-like head (gen_sf guards K ≥ V)
            "--shared-head",
            "10",
        ],
        check=True,
    )


def _last_entry() -> dict | None:
    if not HISTORY.exists():
        return None
    prev = None
    for line in HISTORY.read_text().splitlines():
        try:
            cand = json.loads(line)
        except json.JSONDecodeError:
            continue
        if cand.get("queries"):
            prev = cand
    return prev


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf10_panel"
    _ensure_fixture(sf_dir)
    load_all_operators()
    spark = get_spark("sf10-panel", shuffle_partitions=96)

    # warm JVM/codegen/Arrow once
    QUERIES["pricing_summary"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    release_tracked_caches()

    timings: dict[str, float] = {}
    for name in PANEL:
        fn = QUERIES[name]
        # ALWAYS one untimed warm pass: it absorbs per-plan codegen/JIT
        # AND the serve-only gates' one-time model build
        # (ensure-if-missing) — without it the first panel run of a
        # round records build cost as serving cost (measured:
        # trainprep_dsir_serve_only 70 s cold vs sub-second serving)
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        warm = time.time() - t0
        release_tracked_caches()
        reps = 1 if warm >= ADAPTIVE_CUTOFF_S else 2
        best = None
        for _ in range(reps):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
            release_tracked_caches()
        timings[name] = round(best, 2)
        print(f"{name}: {timings[name]}s (warm {warm:.2f}s)", file=sys.stderr)

    out: dict = {
        "panel": "sf10",
        "dir": sf_dir,
        "value": round(sum(timings.values()), 2),
        "unit": "sec",
        "queries": timings,
        "ts": int(time.time()),
    }
    try:
        out["load_avg"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:  # pragma: no cover
        pass

    prev = _last_entry()
    if prev is not None:
        alerts = {}
        for name, now_s in timings.items():
            before = prev["queries"].get(name)
            if before and now_s > ALERT_RATIO * before:
                alerts[name] = {"prev_s": before, "now_s": now_s}
        out["prev_ts"] = prev.get("ts")
        out["alerts"] = alerts
        shared = [n for n in timings if n in prev["queries"]]
        prev_total = sum(prev["queries"][n] for n in shared)
        now_total = sum(timings[n] for n in shared)
        out["shared_total_ratio_vs_prev"] = (
            round(now_total / prev_total, 3) if prev_total else None
        )

    try:
        with HISTORY.open("a") as fh:
            fh.write(json.dumps(out) + "\n")
    except OSError:  # pragma: no cover
        pass
    print(json.dumps(out))
    return 1 if out.get("alerts") else 0


if __name__ == "__main__":
    raise SystemExit(main())
