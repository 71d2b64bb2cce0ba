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
# core.
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
    # round-4 in-session additions (headline set grew 27 → 30; the
    # 27-query subtotal stays the round-over-round comparable)
    "decontam_minhash_fuzzy",
    "text_token_histogram",
    "sql_recursive_date_spine",
    # round-5 addition (30 → 31): the winnowed substring-dedup scale
    # tier, benched next to its stride-1 sibling so the sampling
    # lever's cost ratio is a recorded number per round
    "dedup_substring_spans_winnowed",
    # round-6 addition (31 → 32): the auto-width LSH dedup is now the
    # registered production default — benched next to the fixed tiers
    # so the runtime rule's cost is a recorded number per round (at
    # sf0.1 the rule picks 8 bits: between the 5- and 12-bit tiers)
    "dedup_embedding_cosine_lsh_auto",
    # round-6 addition (32 → 33): SemDeDup semantic pruning — the
    # cluster-then-decide kernel benched next to the exact pair grid
    # it bounds (its DuckDB oracle pays the intra-cluster self-join
    # this plan keeps task-local)
    "dedup_semantic_semdedup",
    # round-6 addition (33 → 34): PQ ADC top-k — the 128×-compressed
    # search path benched next to the exact brute-force it
    # approximates (its in-plan encode stage included; production
    # reads the persisted pq_code column)
    "similarity_pq_adc_topk",
    # round-6 addition (34 → 35): the IVF-PQ composition — bucket
    # pruning × code compression, benched next to both halves
    "similarity_ivfpq_topk",
    # round-6 additions (35 → 37): the TPC-H long-tail composed
    # shapes — the 7-table conditional-ratio tree (Q8) and the
    # grouped-HAVING semi-gated top-k (Q18) join the relational core
    # so composed multi-join perf is a recorded number per round
    "tpch_q8_market_share",
    "tpch_q18_large_volume_customers",
    # round-6 addition (37 → 38): paragraph-level exact dedup — the
    # sub-document boilerplate pass benched next to the whole-doc
    # exact and MinHash families it complements (kernel chunker + one
    # hash-partitioned window + per-doc reassembly)
    "dedup_paragraphs",
    # round-6 addition (38 → 39): time-series gap-fill — dense spine
    # + LOCF; the hypertable path benched next to its sparse sibling
    # time_bucket_hourly... (the islands stats ride the same dense
    # frame and stay gate-only)
    "events_gapfill_locf",
    # round-6 additions (39 → 42): the session's three new flagship
    # families — the CDC keyed snapshot diff (one co-partitioned
    # full-outer), the weight-proportional Poisson sample (scalar
    # broadcast + stateless filter — the cheapest sampling plan), and
    # the per-group regression trend (one six-number hash aggregate)
    "cdc_snapshot_diff",
    "trainprep_weighted_sample",
    "profile_group_trend",
    # round-6 additions (42 → 45): the session's second wave — the
    # z-cell layout map, the key-skew diagnostic, and the
    # within-basket affinity join (its pair work is Σ basket², the
    # number worth watching per round).  PageRank stays SCALING-only:
    # its sf0.1 wall is ten supersteps of scheduling floor, not plan
    # cost, and the bench would read as a plan regression that isn't.
    "storage_zorder_cells",
    "profile_key_skew",
    "affinity_brand_pairs",
    # round-7 additions (45 → 49): the two-level SemDeDup production
    # default (benched next to its flat audit twin so the hierarchical
    # router's cost is a recorded number per round — its decade win is
    # the scale claim, SCALING.md round 7), BM25 ranked retrieval (the
    # text family's scoring surface), and two of the derived-partsupp
    # TPC-H tail (Q2's correlated-min gate, Q11's scalar-threshold
    # rollup — the last classic shapes the engine had never run)
    "dedup_semantic_semdedup_auto",
    "text_bm25_topk",
    "tpch_q2_min_cost_supplier",
    "tpch_q11_important_stock",
    # round-8 additions (49 → 53): the seven-stage curation pipeline
    # composed end to end (the engine's reason to exist — its wall is
    # THE composition number per round; DuckDB pays the embedded
    # SemDeDup/minhash oracles), BPE tokenizer training (8 iterative
    # merge rounds — the per-round floor is the recorded cost), the
    # recall-targeted auto-nprobe IVF search (the tuning loop's price
    # next to the fixed-nprobe row), and canonical-docs connected
    # components (now alternating-star — O(log n) rounds; benched so
    # the contraction's fixture floor is a recorded number per round)
    "trainprep_full_curation",
    "text_bpe_merges",
    "similarity_ivf_topk_auto",
    "dedup_canonical_docs",
    # round-9 additions (53 → 55): the chunk-level retrieval composite
    # (chunk → featurize → persisted IVF build+serve → per-doc
    # reduction — its wall is the RAG-loop composition number; DuckDB
    # pays the same chain as CTEs) and the tokenizer APPLY through the
    # Arrow rank-dict kernel (benched next to text_bpe_merges so the
    # train and apply halves are separate recorded numbers)
    "similarity_chunk_retrieval",
    "text_bpe_encode",
    # round-9 addition (55 → 56): the tokenizer-aware packing
    # composite — curate, train BPE on the corpus, re-measure the
    # survivors in real tokens, pack; the end-to-end LLM-pipeline
    # wall per round (DuckDB pays the curation chain + the embedded
    # encode oracle)
    "trainprep_tokenized_curation",
    # round-9 session-2 additions (56 → 59): the model-based curation
    # family — NB quality classifier (train + corpus scoring in one
    # plan; the model-gate cost next to the rule gate it distills),
    # DSIR importance selection (hashed n-gram distributions + global
    # rank), and the classifier-GATED seven-stage composite (the
    # production configuration once a model replaces the seed rules;
    # benched next to the Gopher-gated composite so the gate swap's
    # cost is a recorded number per round)
    "text_quality_classifier",
    "trainprep_dsir_select",
    "trainprep_classifier_curation",
    # round-10 additions (59 → 63): the hash-gated sketch twins — the
    # CMS counter-table build+probe and the distributed nearest-rank
    # percentile (its counts-first plan is the scale shape worth a
    # recorded number next to the t-digest wrapper) — plus the two
    # model-serving composites the round added: curriculum-ordered
    # packing (bigram-LM scoring + the distributed prefix-sum scan)
    # and the DSIR persisted-model serve round trip (benched next to
    # trainprep_dsir_select so the build/serve split's cost is a
    # recorded number per round)
    "sketch_count_min_token_counts",
    "sketch_percentile_rank_exact",
    "trainprep_curriculum_pack",
    "trainprep_dsir_served",
    # round-11 additions (63 → 66): the serve-only twins (r10 VERDICT
    # item 1) — each gate's untimed warm pass builds/persists the
    # model if absent, so the timed best-of-3 is the FROZEN-model
    # scoring wall; benched next to their build-inclusive siblings so
    # the build/serve economics are separate recorded numbers per
    # round (r10: trainprep_dsir_served at 9.6 s was 18% of the
    # headline and misstated production serving cost)
    "trainprep_dsir_serve_only",
    "text_quality_classifier_serve_only",
    "text_lm_quality_serve_only",
    # round-11 additions (66 → 68): materialized-view maintenance —
    # the append-combine monoid (batch aggregate + state-sized key
    # join; never re-reads the base) and the touched-group recompute
    # under an update (the retraction-free min/max path); benched so
    # the per-batch maintenance wall is a recorded number next to the
    # full GROUP BY it replaces (pricing_summary is the same-grain
    # from-scratch aggregate)
    "pipeline_matview_append_combine",
    "pipeline_matview_update_recompute",
    # round-12 addition (68 → 69): the matview × frozen-classifier
    # composition — a maintained rollup over the model-gated corpus
    # (the untimed warm pass absorbs the one-time NB model build via
    # ensure_quality_model, so the timed runs are gate + rollup)
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
