"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "cpus": ...}.

Each query is forced end-to-end with the noop sink (full computation,
no driver-side collect), mirroring how a production job would write
results out rather than pull them to the driver.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent
sys.path.insert(0, str(ROOT))

from bitcoin_datawarehouse_spark.registry import load_all_operators  # noqa: E402
from tools.harness import (  # noqa: E402
    append_history,
    comparable_prev,
    load_avg,
    session,
    sf_of,
    shared_subset_vs_prev,
    time_queries,
    warm,
)

HISTORY = ROOT / "bench_history.jsonl"

# Representative, scale-stressing subset: scans+filters, multi-way
# joins, aggregation, windows, sessionization, as-of, JSON, dedup
# (exact + MinHash LSH + substring + incremental), text scoring,
# LM-quality, embedding top-k, and the composite training-prep
# pipeline — the LLM-pipeline flagships are first-class here so
# round-over-round perf claims cover them, not just the relational
# core.  A flagship's build-inclusive and serve-only variants sit side
# by side so each cost is a recorded number.  Why each entry joined is
# in git history and SCALING.md.
HEADLINE = [
    "extract_projection_range",
    "pricing_summary",
    "join_fact_dim_broadcast",
    "join_star_regional_revenue",
    "agg_daily_revenue",
    "agg_count_distinct",
    "topk_global",
    "window_topk_per_group",
    "window_lag_delta",
    "sessionize_events",
    "asof_join_daily_price",
    "time_bucket_hourly",
    "json_extract_props",
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "text_quality_score",
    "text_fingerprint",
    "similarity_bruteforce_topk",
    "similarity_ivf_topk",
    "dedup_embedding_cosine",
    "dedup_embedding_cosine_lsh",
    "dedup_embedding_cosine_lsh_wide",
    "dedup_substring_spans",
    "dedup_incremental_batch",
    "text_lm_quality",
    "text_lm_quality_approx",
    "trainprep_corpus_pipeline",
    "decontam_minhash_fuzzy",
    "text_token_histogram",
    "sql_recursive_date_spine",
    "dedup_substring_spans_winnowed",
    "dedup_embedding_cosine_lsh_auto",
    "dedup_semantic_semdedup",
    "similarity_pq_adc_topk",
    "similarity_ivfpq_topk",
    "tpch_q8_market_share",
    "tpch_q18_large_volume_customers",
    "dedup_paragraphs",
    "events_gapfill_locf",
    "cdc_snapshot_diff",
    "trainprep_weighted_sample",
    "profile_group_trend",
    "storage_zorder_cells",
    "profile_key_skew",
    "affinity_brand_pairs",
    "dedup_semantic_semdedup_auto",
    "text_bm25_topk",
    "tpch_q2_min_cost_supplier",
    "tpch_q11_important_stock",
    "trainprep_full_curation",
    "text_bpe_merges",
    "similarity_ivf_topk_auto",
    "dedup_canonical_docs",
    "similarity_chunk_retrieval",
    "text_bpe_encode",
    "trainprep_tokenized_curation",
    "text_quality_classifier",
    "trainprep_dsir_select",
    "trainprep_classifier_curation",
    "sketch_count_min_token_counts",
    "sketch_percentile_rank_exact",
    "trainprep_curriculum_pack",
    "trainprep_dsir_served",
    "trainprep_dsir_serve_only",
    "text_quality_classifier_serve_only",
    "text_lm_quality_serve_only",
    "pipeline_matview_append_combine",
    "pipeline_matview_update_recompute",
    "pipeline_matview_classified_append",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_of(sf_dir)

    load_all_operators()
    spark = session("bench", sf_dir)
    warm(spark, sf_dir)

    # Large-SF escape hatches (recorded in the output line — skips are
    # never silent): SPARK_GRAFT_SKIP excludes named queries (used to
    # drop the O(N²) exact-grid AUDIT tools at sf ≥ 10, where they are
    # quadratically expensive by design and the LSH tiers are the
    # production path), SPARK_GRAFT_REPEATS trims best-of-N.
    skip = {
        s.strip()
        for s in os.environ.get("SPARK_GRAFT_SKIP", "").split(",")
        if s.strip()
    }
    unknown_skips = skip - set(HEADLINE)
    if unknown_skips:
        print(
            f"SPARK_GRAFT_SKIP entries not in HEADLINE (no-ops): "
            f"{sorted(unknown_skips)}",
            file=sys.stderr,
        )
    skip &= set(HEADLINE)  # output's "skipped" lists EFFECTIVE skips only
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_REPEATS", "3")))

    # 2.5 s cutoff (round 11): a fixed best-of-3 pushed the sf0.1 wall
    # to ~8 min once heavy composite gates joined the headline
    best = time_queries(
        spark, sf_dir, [n for n in HEADLINE if n not in skip],
        repeats=repeats, cutoff_s=2.5,
    )
    timings = {n: round(t, 3) for n, t in best.items()}
    cpus = spark.sparkContext.defaultParallelism

    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
    }
    if skip:
        out["skipped"] = sorted(skip)
    # machine-state context (r11 VERDICT item 5): the DuckDB side of
    # the pair swings ±25% with concurrent load — record the 1/5/15-min
    # load averages so a reader can discount a noisy pair_ratio
    out["load_avg"] = load_avg()

    # shared-subset round-over-round (r11 VERDICT item 5): pair_ratio
    # is a coin flip under comparator variance; the honest
    # round-over-round metric is this run's Spark sum vs the PREVIOUS
    # comparable run over the queries both measured.  BENCH_r{N}.json
    # keeps only a truncated stdout tail (parsed=None on long lines),
    # so bench keeps its OWN committed history: bench_history.jsonl,
    # one full JSON line per run.
    prev = comparable_prev(HISTORY, sf, cpus)
    if prev is not None:
        out["shared_subset_vs_prev"] = shared_subset_vs_prev(timings, prev)

    # Same-session DuckDB pair (r10 VERDICT item 7): the controlled
    # Spark-vs-DuckDB comparison must live IN the recorded JSON, not
    # in prose — cross-round JSON diffs were repeatedly dominated by
    # machine-state factors (r10 read as a 1.17× "regression" while
    # the controlled same-session pair was 0.91×).  Run the natural-
    # mode comparator (the SQL a native DuckDB user would write) as a
    # subprocess right after the Spark timings — same machine state,
    # back to back — and emit {spark_s, duckdb_s, ratio} per shared
    # query plus the headline ratio.  Never fatal: the Spark line is
    # the driver contract and must survive a comparator failure.
    if os.environ.get("SPARK_GRAFT_DUCKDB_PAIR", "1") != "0":
        import subprocess

        try:
            proc = subprocess.run(
                [
                    sys.executable,
                    str(ROOT / "tools" / "bench_duckdb.py"),
                    "--natural",
                ],
                capture_output=True,
                text=True,
                timeout=1800,
                env=os.environ.copy(),
            )
            dk = json.loads(proc.stdout.strip().splitlines()[-1])
            pair = {
                name: {
                    "spark_s": timings[name],
                    "duckdb_s": dk["queries"][name],
                    "ratio": round(
                        timings[name] / dk["queries"][name], 3
                    )
                    if dk["queries"][name] > 0
                    else None,
                }
                for name in timings
                if name in dk.get("queries", {})
            }
            spark_shared = sum(v["spark_s"] for v in pair.values())
            duck_shared = sum(v["duckdb_s"] for v in pair.values())
            out["pair"] = pair
            out["pair_spark_total"] = round(spark_shared, 3)
            out["pair_duckdb_total"] = round(duck_shared, 3)
            out["pair_ratio"] = (
                round(spark_shared / duck_shared, 3)
                if duck_shared > 0
                else None
            )
            out["pair_mode"] = dk.get("mode", "natural")
        except Exception as e:  # noqa: BLE001 — comparator is best-effort
            out["pair_error"] = f"{type(e).__name__}: {e}"

    # append AFTER the pair so history carries the comparator numbers
    out["ts"] = int(time.time())
    append_history(HISTORY, out)
    print(json.dumps(out))

if __name__ == "__main__":
    main()
