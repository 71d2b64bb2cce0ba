"""Per-round sf10 regression panel (r11 VERDICT item 2).

The driver benches at sf0.1, where the per-stage scheduling floor
dominates sub-2s queries (CLAUDE.md) and a plan regression can hide
entirely inside the noise.  This panel runs a fixed, family-covering
set of 21 registered queries against a deterministically scaled sf10
fixture ONCE per round, records the walls in a committed history
(``sf10_panel_history.jsonl``), and ALERTS on any query >1.5× its
previous recorded wall — the regression tripwire the fixture-scale
bench cannot be.

Decade-probe discipline (CLAUDE.md, ``tools/harness.py``): one warmed
session, noop sink, tracked caches released between runs, two timed
runs (min) below the adaptive cutoff, one above — and numbers from a
loaded machine are suspect, so the run records load_avg alongside.
Alerts compare only with the last run at the same sf and CPU count.

Usage:
  python tools/probe_sf10_panel.py [SF10_DIR]        # default /tmp/sf10_panel
  # the fixture is generated from sf0.1 (factor 100, single-stage,
  # Zipf-respecting head) iff the directory is missing.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bitcoin_datawarehouse_spark.registry import load_all_operators  # noqa: E402
from bitcoin_datawarehouse_spark.session import get_spark  # noqa: E402
from tools.harness import (  # noqa: E402
    append_history,
    comparable_prev,
    load_avg,
    sf_of,
    shared_subset_vs_prev,
    time_queries,
    warm,
)

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
HISTORY = REPO / "sf10_panel_history.jsonl"


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


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf10_panel"
    _ensure_fixture(sf_dir)
    load_all_operators()
    spark = get_spark("sf10-panel", shuffle_partitions=96)
    warm(spark, sf_dir)

    best = time_queries(spark, sf_dir, PANEL, repeats=2, cutoff_s=10.0)
    timings = {n: round(t, 2) for n, t in best.items()}
    sf = sf_of(sf_dir)
    cpus = spark.sparkContext.defaultParallelism

    out: dict = {
        "panel": "sf10",
        "dir": sf_dir,
        "value": round(sum(timings.values()), 2),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "ts": int(time.time()),
        "load_avg": load_avg(),
    }

    prev = comparable_prev(HISTORY, sf, cpus)
    if prev is not None:
        out["alerts"] = {
            name: {"prev_s": prev["queries"][name], "now_s": now_s}
            for name, now_s in timings.items()
            if prev["queries"].get(name)
            and now_s > ALERT_RATIO * prev["queries"][name]
        }
        out["shared_subset_vs_prev"] = shared_subset_vs_prev(timings, prev)

    append_history(HISTORY, out)
    print(json.dumps(out))
    return 1 if out.get("alerts") else 0


if __name__ == "__main__":
    raise SystemExit(main())
