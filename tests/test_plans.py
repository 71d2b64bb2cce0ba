"""Physical-plan assertions — the scale contract.

Correctness says the operator computes the right rows; these tests
pin the *plan shape* that makes it viable at 100 TB: filters and
projections reaching the parquet scan, dims going broadcast,
merges anti-joining broadcast batches, no accidental cartesian
products, map-side partial aggregation.
"""

from __future__ import annotations

import pytest

from bitcoin_datawarehouse_spark.plans.audit import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_partial_aggregation,
    assert_pushed_filter,
    explain_str,
    scan_read_schema,
)

from .conftest import SF_SMALL


@pytest.fixture()
def plan_of(spark):
    def _get(name: str) -> str:
        return explain_str(spark, name, SF_SMALL)

    return _get


def test_filter_pushdown_reaches_scan(plan_of):
    assert_pushed_filter(plan_of("extract_projection_range"), "o_orderdate")


def test_column_pruning(plan_of):
    # lineitem scan must read only the needed columns, not all 11
    frag = scan_read_schema(plan_of("agg_daily_revenue"), "lineitem")
    assert "l_extendedprice" in frag
    assert "l_shipdate" not in frag
    assert "l_returnflag" not in frag


def test_dim_join_goes_broadcast(plan_of):
    plan = plan_of("join_fact_dim_broadcast")
    assert_broadcast_join(plan)
    assert "SortMergeJoin" not in plan


def test_semi_and_anti_join_types(plan_of):
    assert "LeftSemi" in plan_of("join_semi_exists")
    assert "LeftAnti" in plan_of("join_anti_not_exists")


def test_topk_uses_take_ordered(plan_of):
    assert "TakeOrderedAndProject" in plan_of("topk_global")


def test_aggregate_is_partial(plan_of):
    assert_partial_aggregation(plan_of("pricing_summary"))


def test_asof_join_has_no_range_join(plan_of):
    # the as-of rewrite must not produce a nested-loop / cartesian join
    plan = plan_of("asof_join_daily_price")
    assert_no_cartesian(plan)
    assert "BroadcastNestedLoopJoin" not in plan


def test_merge_upsert_is_broadcast_anti_join(plan_of):
    # the incremental-merge dataflow: batch broadcast into a left-anti
    plan = plan_of("pipeline_merge_upsert")
    assert "LeftAnti" in plan
    assert_broadcast_join(plan)


def test_delete_predicate_pushed_to_scan(plan_of):
    # survivors filter (NOT(status AND price<..)) reaches the scan via
    # pushed-down disjunction on at least the status column
    plan = plan_of("pipeline_delete_where")
    assert "PushedFilters" in plan


def test_watermark_probe_is_broadcast_not_collect(plan_of):
    # the MAX-probe joins in as a broadcast, not a driver collect
    plan = plan_of("pipeline_watermark_extract")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_full_outer_is_shuffle_join(plan_of):
    # full outer cannot broadcast: both unmatched sides must survive
    plan = plan_of("join_full_outer")
    assert "SortMergeJoin FullOuter" in plan or "FullOuter" in plan


def test_minhash_bucket_join_no_cartesian(plan_of):
    # LSH candidate generation must be an equi-join on (band, key) —
    # never an all-pairs product
    assert_no_cartesian(plan_of("dedup_minhash_lsh"))


def test_embedding_lsh_narrow_uses_grid_kernel(plan_of):
    # the rerank is the coarse-grouped numpy grid kernel, one
    # FlatMapGroupsInPandas over (tbl, bucket mod G) — no
    # candidate-pair self-join at all
    plan = plan_of("dedup_embedding_cosine_lsh")
    assert "FlatMapGroupsInPandas" in plan
    assert_no_cartesian(plan)


def test_embedding_lsh_wide_uses_grid_kernel_no_joins(plan_of):
    # r13 re-pin (deliberate): the wide tier's candidate self-join +
    # distinct + two embedding joins materialized 59M pairs at sf10
    # (auto 8×12) and shuffled ~21 GB through the second join; it is
    # replaced by the SAME coarse-grouped grid kernel as the narrow
    # tier — the carry_vec assignment kernel ships each vector once,
    # so the plan has NO join at all (the r12 "per-group overhead
    # dominates at wide widths" rationale was an artifact of grouping
    # by raw (tbl, bucket); grouping by (tbl, bucket mod G) bounds the
    # group count by cores + N/32k at any width).
    plan = plan_of("dedup_embedding_cosine_lsh_wide")
    assert_no_cartesian(plan)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "Join" not in plan


def test_range_join_is_hash_join_not_nested_loop(plan_of):
    # the bucketize-then-refine rewrite must produce an equi hash join
    plan = plan_of("join_range_bucketized")
    assert_no_cartesian(plan)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_ivf_probe_join_no_cartesian(plan_of):
    plan = plan_of("similarity_ivf_topk")
    # centroid probing is a broadcast of tiny frames; candidate
    # generation and rerank must be hash joins
    assert "BroadcastHashJoin" in plan


def test_embedding_dedup_is_distributed_block_grid(plan_of):
    # exact all-pairs dedup must be the block-pair applyInPandas grid:
    # one scan explodes each vector to its block-pair assignments
    # (never a cartesian / nested-loop / driver collect) and the grid
    # kernel runs distributed (FlatMapGroupsInPandas) after a single
    # group-key shuffle
    plan = plan_of("dedup_embedding_cosine")
    assert_no_cartesian(plan)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "Generate" in plan  # the explode fan-out, not a join
    assert "Scan parquet" in plan  # distributed scan, no LocalTableScan


def test_tpch_q3_plan_shape(plan_of):
    # segment-filtered customer broadcasts; top-10 is TakeOrdered (no
    # global sort materialization); date filters reach the scans
    plan = plan_of("tpch_q3_shipping_priority")
    assert_broadcast_join(plan)
    assert "TakeOrderedAndProject" in plan
    assert_pushed_filter(plan, "o_orderdate")
    assert_no_cartesian(plan)


def test_tpch_q5_plan_shape(plan_of):
    # 6-table tree: every dimension leg broadcast, exactly one
    # fact-fact shuffle pair, no cartesian anywhere
    plan = plan_of("tpch_q5_local_supplier_volume")
    assert_broadcast_join(plan)
    assert_no_cartesian(plan)
    assert_partial_aggregation(plan)


def test_tpch_q10_filters_reach_scans(plan_of):
    plan = plan_of("tpch_q10_returned_items")
    assert_pushed_filter(plan, "l_returnflag")
    assert_pushed_filter(plan, "o_orderdate")
    assert "TakeOrderedAndProject" in plan


def test_tpch_q7_pair_legs_broadcast(plan_of):
    # both nation legs broadcast; the ship-date range reaches the
    # lineitem scan; the pair disjunction never becomes a cartesian
    plan = plan_of("tpch_q7_volume_shipping")
    assert_broadcast_join(plan)
    assert_pushed_filter(plan, "l_shipdate")
    assert_no_cartesian(plan)
    assert_partial_aggregation(plan)


def test_tpch_q8_seven_table_tree_one_shuffle(plan_of):
    # 7-table tree: every dimension leg broadcast, orders⋈lineitem is
    # the ONLY exchange feeding the year aggregate
    import re

    plan = plan_of("tpch_q8_market_share")
    assert_broadcast_join(plan)
    assert "SortMergeJoin" not in plan
    assert_no_cartesian(plan)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_tpch_q17_threshold_join_copartitioned(plan_of):
    # the self-agg threshold and its probe shuffle on the SAME key —
    # two exchanges total (fact→agg, fact→probe), no third for the
    # gated join itself
    import re

    plan = plan_of("tpch_q17_small_quantity_revenue")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert_no_cartesian(plan)


def test_tpch_q18_having_gate_is_semi_join(plan_of):
    # the grouped-HAVING qualifying set gates the fact as a broadcast
    # LEFT SEMI (never a re-aggregation per probe row); top-100 is
    # TakeOrdered
    plan = plan_of("tpch_q18_large_volume_customers")
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan
    assert_no_cartesian(plan)


def test_tpch_q19_disjunction_prunes_both_scans(plan_of):
    # Catalyst extracts the per-side implications of the OR-of-ANDs:
    # quantity bounds land in the lineitem scan, brand/size bounds in
    # the part scan — both prune BEFORE the broadcast join
    plan = plan_of("tpch_q19_disjunctive_revenue")
    assert_pushed_filter(plan, "l_quantity")
    assert_pushed_filter(plan, "p_brand")
    assert_broadcast_join(plan)
    assert_no_cartesian(plan)


def test_tpch_q22_scalar_is_one_row_broadcast(plan_of):
    # the scalar mean arrives as a 1-row BroadcastNestedLoopJoin (the
    # sanctioned shape for a scalar cross join — NOT a collect), and
    # the dormancy gate is an anti join
    plan = plan_of("tpch_q22_dormant_customers")
    assert "BroadcastNestedLoopJoin" in plan
    assert "LeftAnti" in plan


def test_trainprep_split_is_stateless_projection(plan_of):
    # the hash split must be a pure projection: no shuffle at all
    plan = plan_of("trainprep_hash_split")
    assert "Exchange" not in plan
    assert_no_cartesian(plan)


def test_trainprep_pack_window_is_per_shard(plan_of):
    # packing's cumsum window must be partitioned (by source) — never
    # a global unpartitioned window over the corpus
    plan = plan_of("trainprep_pack_sequences")
    assert "Window" in plan
    # the window spec carries the shard key in its partition clause
    assert "source" in plan.split("Window")[1][:400]


def test_kmeans_centroids_are_broadcast(plan_of):
    # every Lloyd step broadcasts the centroid side; vectors never
    # appear on a build side and nothing is a cartesian product
    plan = plan_of("similarity_ivf_kmeans_assign")
    assert_no_cartesian(plan)
    assert "BroadcastExchange" in plan
    assert_partial_aggregation(plan)


def test_decontam_corpus_pass_is_join_free(plan_of):
    # the eval shingle set is a model-sized artifact shipped in the
    # corpus kernel's closure (collected once per session), so the
    # corpus side is ONE Arrow pass: no join of any kind, no
    # aggregation shuffle — the only exchange is the deliberate
    # round-robin spread of the one-split fixture scan
    plan = plan_of("decontam_ngram_overlap")
    assert_no_cartesian(plan)
    assert "Join" not in plan
    assert "hashpartitioning" not in plan


def test_gopher_rules_single_projection_pass(plan_of):
    # heuristic rule bits are one projection pass: the only exchange
    # is the deliberate round-robin spread of the one-split fixture —
    # no hash shuffle (no aggregation/join) anywhere
    plan = plan_of("text_gopher_rules")
    assert "hashpartitioning" not in plan
    assert_no_cartesian(plan)


def test_global_shuffle_window_is_per_shard(plan_of):
    # the shuffle rank must be windowed per shard_id, never a global
    # single-partition ROW_NUMBER
    plan = plan_of("trainprep_global_shuffle")
    assert "Window" in plan
    # the pre-window exchange hashes on the shard key
    assert "hashpartitioning(shard_id" in plan
    assert "SinglePartition" not in plan


def test_pii_scan_no_hash_shuffle(plan_of):
    # same contract as the gopher rules: round-robin spread only
    plan = plan_of("text_pii_scan")
    assert "hashpartitioning" not in plan
    assert_no_cartesian(plan)


def test_substring_spans_hash_agg_no_cartesian(plan_of):
    # duplicate-window detection is a hash aggregate on the window
    # hash + equi-joins back to the window table — never all-pairs
    plan = plan_of("dedup_substring_spans")
    assert_no_cartesian(plan)
    assert "BroadcastNestedLoopJoin" not in plan


def test_lm_quality_rank_window_is_partitioned(plan_of):
    """The CCNet tertile bucketing must NOT use a global single-partition
    window over per-document rows (the round-2 scale defect): the rank
    comes from functions/ranking.py — a row_number PARTITIONED by the
    range-partition id.  Every row_number window spec in the plan must
    therefore carry the _rk_pid partition column, and no ntile may
    appear at all."""
    plan = plan_of("text_lm_quality")
    rn_lines = [ln for ln in plan.splitlines() if "row_number" in ln]
    assert rn_lines, "expected a row_number window in the plan"
    for ln in rn_lines:
        assert "_rk_pid" in ln, f"unpartitioned row_number window: {ln}"
    assert "ntile" not in plan


def test_lm_quality_approx_mode_has_no_window_no_rank_cache(spark):
    """The production (approx) bucketing path must carry NO window
    operator and NO persist barrier from the rank helper: thresholds
    come from one percentile_approx aggregate broadcast back.  (The
    w1-partitioned docbig cache is shared by both modes and stays.)"""
    from bitcoin_datawarehouse_spark.operators.lm_quality import (
        text_lm_quality_buckets,
    )
    from bitcoin_datawarehouse_spark.plans.audit import df_plan

    df = text_lm_quality_buckets(spark, SF_SMALL, mode="approx")
    plan = df_plan(df)
    assert "Window" not in plan, "approx mode must not use any window"
    assert "percentile_approx" in plan
    assert "_rk_pid" not in plan, "rank helper leaked into approx mode"
    assert "BroadcastExchange" in plan or "BroadcastNestedLoop" in plan


def test_incremental_dedup_band_join_broadcasts_batch(plan_of):
    """Candidate generation must be a band-bucket equi-join with the
    (small by construction) batch side broadcast, verification a
    candidate-sized equi-join — never batch × corpus."""
    plan = plan_of("dedup_incremental_batch")
    assert_no_cartesian(plan)
    assert "BroadcastNestedLoopJoin" not in plan
    assert_broadcast_join(plan)


# ---------------------------------------------------------------------------
# shuffle budgets — plan-shape regressions fail loudly, not as bench noise
# ---------------------------------------------------------------------------

# exact Exchange-node budget per flagship plan.  The counts come from
# the INITIAL (pre-execution) physical plan, which is deterministic
# even with AQE enabled (AQE re-plans at runtime; explain of an
# unexecuted frame shows the static plan).  A NEW exchange appearing
# here means a lost partitioning reuse / broadcast / pushdown — fix
# the plan or consciously re-pin the budget with a comment in the same
# commit.  The dedup kernels' budgets count the kernel-input
# repartition + candidate machinery only.
SHUFFLE_BUDGET = {
    "extract_projection_range": 0,
    "pricing_summary": 1,
    "agg_daily_revenue": 1,
    "dedup_exact_docs": 1,
    "join_star_regional_revenue": 1,
    "dedup_minhash_lsh": 3,
    "dedup_incremental_batch": 4,
    # assignment-kernel repartition + the per-query rerank group
    # shuffle; the corpus passes the plan ONCE (vectors ride the
    # inverted lists through the broadcast probe join — no vec_id
    # re-shuffle, no candidate-dedup exchange).  r6 re-pin 3 → 2:
    # probe selection moved from a crossJoin + row_number window (one
    # query-keyed exchange) into the shared shuffle-free Arrow probe
    # kernel (embeddings_extra.probe_assignments)
    "similarity_ivf_topk": 2,
    # round-robin repartition into the assignment kernel + ONE hash
    # shuffle by centroid_id into the per-cluster decision kernel —
    # the whole intra-cluster pair grid is task-local (a 3rd exchange
    # would mean pair rows started materializing through a join)
    "dedup_semantic_semdedup": 2,
    # the round-7 two-level rewrite must keep the identical exchange
    # budget: coarse→fine routing happens INSIDE the one assignment
    # kernel (fine→coarse is driver-side on the collected codebook),
    # so hierarchical ≠ extra shuffles — still kernel repartition +
    # the centroid_id hash shuffle (the count() sizing probe is a
    # separate build-time action, not part of this plan)
    "dedup_semantic_semdedup_auto": 2,
    # round-robin repartition into the encode kernel + the final
    # partitions×queries×k rank window — the ADC scoring itself adds
    # no exchange (codes flow straight from the encode kernel into
    # the scoring kernel, LUTs in the closure)
    "similarity_pq_adc_topk": 2,
    # same two (corpus-kernel repartition + rank window); the probe
    # frame reaches the lists via a BroadcastHashJoin, not a shuffle
    "similarity_ivfpq_topk": 2,
    "trainprep_corpus_pipeline": 3,
    # r7 re-pin 11 → 3: with_global_rank's intermediate is now an
    # eager localCheckpoint (functions/ranking.py), which TRUNCATES
    # the visible lineage — the LM-training subgraph (kernel
    # repartition + w1 cache + score agg + range repartition, the old
    # ~8 upstream exchanges) executes at plan-build time and the
    # final plan shows only the rank block over checkpointed blocks:
    # bounded counts agg + its window + the broadcast offsets join.
    # A 4th exchange here would mean the rank block itself regressed.
    "text_lm_quality": 3,
    # explicit-register HLL: (month, j) register agg + the per-month
    # estimate agg + the exact count-distinct's two exchanges — the
    # estimate↔exact join is a BroadcastExchange (group-cardinality
    # frames).  The shuffle after the register agg carries ≤ m rows
    # per group — the sketch contract made visible in the plan.
    "sketch_hll_explicit_month": 4,
    # one extra keyed aggregate: the (quarter, month, j) register agg
    # merges up to (quarter, j) before the same estimate tail
    "sketch_hll_merge_quarter": 5,
    # counts-first percentile: (flag, price) hash agg + the cumulative
    # window over the DISTINCT-VALUE frame + the per-flag total agg +
    # the final conditional-MIN agg; a 5th exchange would mean raw
    # rows reached the window (the exact anti-pattern this twin
    # replaces)
    "sketch_percentile_rank_exact": 4,
}


@pytest.mark.parametrize("name,budget", sorted(SHUFFLE_BUDGET.items()))
def test_shuffle_budget(plan_of, name, budget):
    import re

    plan = plan_of(name)
    n = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n == budget, (
        f"{name}: {n} Exchange nodes, budget {budget} — a plan-shape "
        "regression (or an improvement: re-pin deliberately)"
    )


def test_token_histogram_topk_no_global_sort(plan_of):
    """Corpus vocab head: cascaded hash aggregates with map-side
    partial combine, final top-K via per-partition heap (TakeOrdered),
    never a global sort."""
    plan = plan_of("text_token_histogram")
    assert "TakeOrderedAndProject" in plan
    assert_partial_aggregation(plan)
    assert_no_cartesian(plan)


def test_recursive_spine_joins_broadcast(plan_of):
    """The 60-row recursive spine must enter the revenue join as the
    broadcast side — a shuffle exchange on a constant-sized calendar
    frame would be plan noise at any scale."""
    plan = plan_of("sql_recursive_date_spine")
    assert_broadcast_join(plan)
    assert_no_cartesian(plan)


def test_fuzzy_decontam_band_join_broadcast_no_cartesian(plan_of):
    """Corpus×eval candidates must come from the band-key equi-join
    with the bounded eval side broadcast — never an all-pairs
    comparison; the verify join moves candidate-sized data only."""
    plan = plan_of("decontam_minhash_fuzzy")
    assert_broadcast_join(plan)
    assert_no_cartesian(plan)


def test_runtime_bloom_filter_join_pruning(spark):
    """Catalyst's InjectRuntimeFilter: with a selective dimension
    filter on a shuffle join, the engine builds a bloom filter over
    the creation side's join keys and probes it on the fact scan —
    scan-side row pruning BEFORE the shuffle, the runtime complement
    of static partition pruning at warehouse scale.  The fixture scan
    is below the default 10 GB application-side threshold, so the
    thresholds are pinned to the cluster-scale posture for the
    assertion and restored after."""
    from bitcoin_datawarehouse_spark.plans.audit import df_plan
    from bitcoin_datawarehouse_spark.tables import load_table
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100GB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        l = load_table(spark, SF_SMALL, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        o = load_table(spark, SF_SMALL, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        j = (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy()
            .agg(F.sum("l_extendedprice").alias("rev"))
        )
        plan = df_plan(j)
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan.lower()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.parametrize(
    "name",
    ["text_quality_score", "text_gopher_rules", "text_language_id"],
)
def test_text_metric_plans_tokenize_at_most_once(plan_of, name):
    """CollapseProject re-inlined the token-split expression into every
    consumer of the former JVM-expression metric projections (two regex
    splits per row + interpreted HOF walks — measured 8.4× at sf10 on
    quality).  The metric families are Arrow kernels now; pin that no
    plan regrows a duplicated split or an interpreted lambda walk."""
    plan = plan_of(name)
    assert plan.count("split(") <= 1, "token split duplicated in plan"
    assert "lambdafunction" not in plan.lower()


def test_no_bare_cache_or_persist_outside_sanctioned_modules():
    """CLAUDE.md rule, made structural: every transient cache must be
    registered via functions.cachereg.cache_tracked so bench/mirror
    harnesses can release it between queries (CacheManager plan-dedup
    otherwise makes per-query numbers order-dependent — measured 10×
    at sf10).  Sanctioned: cachereg itself, functions/ranking.py (its
    intermediate is an eager localCheckpoint the ContextCleaner
    reclaims), and tables.py
    (the session table cache with its own uncache_tables registry)."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "bitcoin_datawarehouse_spark"
    sanctioned = {"cachereg.py", "ranking.py", "tables.py"}
    pat = re.compile(r"\.(cache|persist)\(")
    offenders = []
    for py in pkg.rglob("*.py"):
        if py.name in sanctioned:
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if pat.search(code):
                offenders.append(f"{py.relative_to(pkg)}:{i}: {line.strip()}")
    assert not offenders, (
        "bare .cache()/.persist() outside sanctioned modules "
        "(use functions.cachereg.cache_tracked):\n" + "\n".join(offenders)
    )


def test_no_bare_crossjoin_outside_scalars():
    """Round-11 verdict: one scalar crossJoin (profile_key_skew's
    top-10 attach) had silently dropped the F.broadcast hint its nine
    siblings carried — at scale an unhinted crossJoin rides on a
    planner estimate and can become a shuffled cartesian.  Structural
    fix: scalar attachments go through functions.scalars.scalar_cross
    (which pins the hint); a mid-chain ``.crossJoin(`` is allowed only
    with ``F.broadcast(`` inline on the same line."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "bitcoin_datawarehouse_spark"
    pat = re.compile(r"\.crossJoin\(")
    offenders = []
    for py in pkg.rglob("*.py"):
        if py.name == "scalars.py":
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if pat.search(code) and "F.broadcast(" not in code:
                offenders.append(f"{py.relative_to(pkg)}:{i}: {line.strip()}")
    assert not offenders, (
        "bare .crossJoin() without an inline F.broadcast hint "
        "(use functions.scalars.scalar_cross):\n" + "\n".join(offenders)
    )


def test_vector_kernels_live_only_in_functions_vectors():
    """Cosine is bit-equal across numpy, the JVM and DuckDB only
    because every engine accumulates dimension by dimension, and it
    scores a zero-norm vector 0.0 only where the guard is written.
    functions/vectors.py is the one owner of both, and of the
    vector-column reader.  Anywhere else in the package each of these
    is a copy that can drift from the contract (and, for pair grids,
    skip the row-block memory cap): an ``np.array(list(`` reader, a
    ``+= np.outer(`` fold, a ``/ np.outer(`` cosine division, a row sum
    of a squared matrix, a ``dot_col(`` JVM cosine, and the oracle
    SQL's ``p[1] * p[2]`` dot or ``x -> x * x`` norm fold."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "bitcoin_datawarehouse_spark"
    owner = pkg / "functions" / "vectors.py"
    pat = re.compile(
        r"np\.array\(list\("
        r"|[+/]=?\s*np\.outer\("
        r"|\((\w+)\s*\*\s*\1\)\.sum\(|\*\*\s*2\)\.sum\(|np\.sum\(\s*(\w+)\s*\*\s*\2\b"
        r"|\bdot_col\("
        r"|p\[1\]\s*\*\s*p\[2\]|x\s*->\s*x\s*\*\s*x"
    )
    offenders = []
    for py in pkg.rglob("*.py"):
        if py == owner:
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if pat.search(line.split("#", 1)[0]):
                offenders.append(f"{py.relative_to(pkg)}:{i}: {line.strip()}")
    assert not offenders, (
        "vector reader / cosine or norm copy outside functions/vectors.py "
        "(use read_vectors / cosine_grid / cosine_row_blocks / cosine_col "
        "/ SQL_NORMED / sql_normed / SQL_COS):\n" + "\n".join(offenders)
    )


def test_physical_layout_lives_only_in_catalog():
    """pipeline/catalog.py is the one owner of the warehouse's physical
    layout.  The dynamic partition-overwrite conf, the ``basePath``
    partition read and the staging/snapshot directory names appear
    nowhere else in the package, and nothing
    reaches for partition helpers in the loader, which holds merge
    semantics only.  One sanctioned exception: ZOrderedTable's own
    z-block reads (operators/ztable.py), whose block directories live
    under the z-table's path, not under a warehouse table."""
    import re
    from pathlib import Path

    from bitcoin_datawarehouse_spark.pipeline import loader

    root = Path(__file__).resolve().parents[1]
    pkg = root / "bitcoin_datawarehouse_spark"
    owner = pkg / "pipeline" / "catalog.py"
    rules = [
        (re.compile(r"partitionOverwriteMode"), {owner}),
        (
            re.compile(r"option\(\s*[\"']basePath[\"']"),
            {owner, pkg / "operators" / "ztable.py"},
        ),
        # staging and snapshot directory names: every directory replace
        # is staged and published by the catalog
        (re.compile(r"__tmp_|__v_"), {owner}),
    ]
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        code = "\n".join(
            line.split("#", 1)[0] for line in py.read_text().splitlines()
        )
        for pat, allowed in rules:
            if py in allowed:
                continue
            for m in pat.finditer(code):
                line_no = code.count("\n", 0, m.start()) + 1
                offenders.append(f"{py.relative_to(root)}:{line_no}: {m.group()}")
    moved = {"_partition_dirs", "_part_key", "_write_day_partitioned"}
    imports = re.compile(r"from\s+[\w.]*loader\s+import\s+(\([^)]*\)|.*)")
    scanned = [pkg, root / "tests", root / "tools", root / "examples"]
    for py in sorted(p for d in scanned for p in d.rglob("*.py")):
        text = py.read_text()
        for m in imports.finditer(text):
            if moved & set(re.findall(r"\w+", m.group(1))):
                line_no = text.count("\n", 0, m.start()) + 1
                offenders.append(f"{py.relative_to(root)}:{line_no}: {m.group()}")
    assert not offenders, (
        "physical-layout code outside pipeline/catalog.py (use "
        "Warehouse.read_partitions / overwrite_partitions / "
        "dynamic_overwrite, catalog.staging_dir / swap_in):\n"
        + "\n".join(offenders)
    )
    assert not moved & set(vars(loader)), "partition helpers back in loader"


def test_pipeline_never_sets_session_conf():
    """A pipeline run's lanes share one SparkSession, so a conf set by
    one lane would leak into (or be restored under) another lane's
    write.  Per-write options carry such settings instead (for example
    ``catalog.dynamic_overwrite``); nothing under pipeline/ calls
    ``conf.set(``."""
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    pat = re.compile(r"conf\.set\(")
    offenders = []
    for py in sorted((root / "bitcoin_datawarehouse_spark" / "pipeline").rglob("*.py")):
        for no, line in enumerate(py.read_text().splitlines(), 1):
            if pat.search(line.split("#", 1)[0]):
                offenders.append(f"{py.relative_to(root)}:{no}: {line.strip()}")
    assert not offenders, "session conf set under pipeline/:\n" + "\n".join(offenders)


def test_key_skew_scalar_attach_is_broadcast(plan_of):
    """The plan test the round-11 blemish should have had: every
    scalar attach in profile_key_skew must be a broadcast nested-loop
    join, never a shuffled CartesianProduct."""
    plan = plan_of("profile_key_skew")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_cache_tracked_self_prunes_released_handles(spark):
    """Streaming ingests register one cache per micro-batch and
    unpersist at the call site; the registry must not accrete those
    dead handles (one logical-plan tree per trigger, forever) — a
    released handle is dropped at the next registration."""
    from bitcoin_datawarehouse_spark.functions import cachereg

    a = cachereg.cache_tracked(spark.range(5))
    a.count()
    a.unpersist()
    assert any(d is a for d in cachereg._TRACKED)
    b = cachereg.cache_tracked(spark.range(6))
    try:
        assert not any(d is a for d in cachereg._TRACKED)
        assert any(d is b for d in cachereg._TRACKED)
    finally:
        cachereg.release_tracked_caches()


def test_cache_registry_keeps_every_handle_across_threads():
    """A pipeline's lanes register caches from several driver threads at
    once; no registration may be lost to a concurrent one (the prune
    pass rewrites the whole list).  Stand-in frames keep the stress on
    the registry itself: always cached, ``cache()`` returns the frame."""
    import sys
    import threading

    from pyspark import StorageLevel

    from bitcoin_datawarehouse_spark.functions import cachereg

    class Frame:
        storageLevel = StorageLevel.MEMORY_ONLY

        def cache(self):
            return self

        def unpersist(self):
            return self

    cachereg.release_tracked_caches()
    frames = [[Frame() for _ in range(300)] for _ in range(8)]
    start = threading.Barrier(8)

    def register(mine):
        start.wait()
        for f in mine:
            cachereg.cache_tracked(f)

    threads = [threading.Thread(target=register, args=(m,)) for m in frames]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
    try:
        assert not any(t.is_alive() for t in threads)
        tracked = {id(d) for d in cachereg._TRACKED}
        assert tracked == {id(f) for m in frames for f in m}
        assert len(cachereg._TRACKED) == 8 * 300
    finally:
        cachereg.release_tracked_caches()
    assert cachereg._TRACKED == []


def test_tpch_q6_all_predicates_reach_scan(plan_of):
    # the pure pushdown witness: date range, discount band, and
    # quantity cap must ALL land in the parquet scan; the aggregate
    # is map-side partial; nothing joins
    plan = plan_of("tpch_q6_forecast_revenue")
    assert_pushed_filter(plan, "l_shipdate")
    assert_pushed_filter(plan, "l_discount")
    assert_pushed_filter(plan, "l_quantity")
    assert_partial_aggregation(plan)
    assert "Join" not in plan


def test_tpch_q4_exists_is_semi_join(plan_of):
    # correlated EXISTS = LEFT SEMI with the lateness residual; the
    # quarter filter reaches the orders scan; the semi join must not
    # degrade to a nested loop (equi key + residual)
    plan = plan_of("tpch_q4_priority_check")
    assert "LeftSemi" in plan
    assert_pushed_filter(plan, "o_orderdate")
    assert_no_cartesian(plan)
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q13_outer_join_keeps_condition_out_of_scan(plan_of):
    # the priority exclusion lives in the JOIN CONDITION — it must
    # NOT be pushed into the orders scan as a row filter on the
    # outer side's preserved rows... it MAY prune the right side
    # (null-supplying) scan, which is semantics-preserving; what the
    # plan must show is a real outer join + two aggregates
    plan = plan_of("tpch_q13_customer_distribution")
    assert "Outer" in plan or "LeftOuter" in plan
    assert_partial_aggregation(plan)
    assert_no_cartesian(plan)


def test_tpch_q15_max_is_one_row_broadcast(plan_of):
    # the tie-sensitive revenue equality is itself an EQUI key, so
    # the 1-row MAX frame arrives as a broadcast HASH join (strictly
    # better than the q22 nested-loop scalar pattern); supplier is a
    # broadcast dim too; no nested loop anywhere
    plan = plan_of("tpch_q15_top_supplier")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" not in plan
    assert_no_cartesian(plan)


def test_tpch_q21_double_correlation_is_semi_plus_anti(plan_of):
    # EXISTS -> LEFT SEMI, NOT EXISTS -> LEFT ANTI, both equi on the
    # order key with the supplier-inequality residual — never a
    # nested loop; supplier/nation broadcast
    plan = plan_of("tpch_q21_waiting_suppliers")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert_no_cartesian(plan)
    assert_broadcast_join(plan)


def test_tpch_q2_min_gate_copartitioned_dims_broadcast(plan_of):
    # the decorrelated per-part MIN re-aggregation joins back on
    # ps_partkey (co-partitioned with the gated side); every dimension
    # leg (supplier/nation/region/part) broadcasts; top-100 is a
    # TakeOrdered, never a global sort
    plan = plan_of("tpch_q2_min_cost_supplier")
    assert_broadcast_join(plan)
    assert "TakeOrderedAndProject" in plan
    assert_no_cartesian(plan)


def test_tpch_q11_scalar_total_is_one_row_broadcast(plan_of):
    # the grand-total threshold arrives as a 1-row broadcast over the
    # part-sized rollup (the Q22 scalar pattern), never a collect; the
    # nation-filtered supplier leg broadcasts
    plan = plan_of("tpch_q11_important_stock")
    assert "BroadcastNestedLoopJoin" in plan
    assert_broadcast_join(plan)
    assert_no_cartesian(plan)


def test_tpch_q16_denylist_is_broadcast_anti(plan_of):
    # NOT IN over a keyed denylist must plan as a broadcast LEFT ANTI;
    # the filtered part leg broadcasts; distinct-count aggregates
    # partially map-side
    plan = plan_of("tpch_q16_supplier_part_counts")
    assert "LeftAnti" in plan
    assert_broadcast_join(plan)
    assert_no_cartesian(plan)
    assert_partial_aggregation(plan)


def test_tpch_q20_double_gate_is_semi_joins(plan_of):
    # both nested INs decorrelate to semi joins (part prefix gate on
    # the pair frame, supplier gate on the outer); the ship-date range
    # reaches the lineitem scan; no nested loop anywhere
    plan = plan_of("tpch_q20_excess_stock_suppliers")
    assert plan.count("LeftSemi") >= 2
    assert_pushed_filter(plan, "l_shipdate")
    assert "BroadcastNestedLoopJoin" not in plan
    assert_no_cartesian(plan)


def test_bpe_encode_apply_is_one_kernel_no_shuffle_after(plan_of):
    """The r9 tokenizer APPLY is ONE Arrow kernel (the merge table
    rides as a rank dict in the closure — merge count is a dict size,
    not an expression-tree depth) with per-doc aggregation FINISHED
    inside it: exactly one MapInPandas node, no join, no hash
    aggregate, and the only exchange is the deliberate round-robin
    spread of the one-split fixture scan."""
    plan = plan_of("text_bpe_encode")
    import re

    n_kernels = len(re.findall(r"\(\d+\) MapInPandas", plan))
    assert n_kernels == 1, plan
    for bad in ("ArrowEvalPython", "BatchEvalPython", "HashAggregate",
                "SortMergeJoin", "BroadcastHashJoin"):
        assert bad not in plan, bad
    # the formatted plan names each node once in the tree and once in
    # the numbered detail section — count the numbered form
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 1, plan


def test_full_curation_composite_no_cartesian(plan_of):
    """The seven-stage composite's one returned plan (the packed
    output; stage flag frames join in by key) must contain no
    cartesian/nested-loop join anywhere — every stage join is keyed
    (doc_id / domain) or broadcast."""
    plan = plan_of("trainprep_full_curation")
    assert_no_cartesian(plan)
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunk_windows_is_map_only(plan_of):
    """Document chunking must be one stateless codegen projection:
    no Python node, no join, no aggregate, no hash shuffle anywhere —
    the only exchange is the deliberate round-robin spread of the
    one-split fixture scan."""
    plan = plan_of("text_chunk_windows")
    for bad in (
        "ArrowEvalPython",
        "BatchEvalPython",
        "MapInPandas",
        "Join",
        "HashAggregate",
        "hashpartitioning",
    ):
        assert bad not in plan, bad


def test_method_agreement_pair_frames_cached_once(spark):
    """r8 VERDICT nit, closed r9: tp (MinHash pairs) and sp (cosine
    pairs) each feed TWO subtrees of the single `counts` action —
    they must be cache_tracked + eagerly filled, so the band join and
    the cosine block grid execute once per run and every consuming
    subtree reads an InMemoryTableScan (four reads: tp count, sp
    count, and both sides of the `both` semi-join)."""
    from bitcoin_datawarehouse_spark.functions.cachereg import (
        release_tracked_caches,
    )
    from bitcoin_datawarehouse_spark.plans.audit import df_plan
    from bitcoin_datawarehouse_spark.registry import QUERIES

    try:
        frame = QUERIES["dedup_method_agreement"](spark, SF_SMALL)
        plan = df_plan(frame)
        assert plan.count("InMemoryTableScan") >= 4, plan
    finally:
        release_tracked_caches()


def test_chunk_retrieval_serve_plan_shape(spark):
    """The chunk-retrieval composite's RETURNED plan is the SERVE
    side (build wrote the persisted lists eagerly inside the call):
    no cartesian/nested-loop join anywhere, the candidate fetch reads
    the BUCKETED lists table (bucket pruning reaches the scan), and
    the per-doc reduction windows run over hit-sized frames only."""
    from bitcoin_datawarehouse_spark.functions.cachereg import (
        release_tracked_caches,
    )
    from bitcoin_datawarehouse_spark.plans.audit import (
        assert_no_cartesian,
        df_plan,
    )
    from bitcoin_datawarehouse_spark.registry import QUERIES

    try:
        frame = QUERIES["similarity_chunk_retrieval"](spark, SF_SMALL)
        plan = df_plan(frame)
        assert_no_cartesian(plan)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "SelectedBucketsCount" in plan, plan
    finally:
        release_tracked_caches()


def test_matview_append_combine_reuses_group_partitioning(plan_of):
    """The append-absorption monoid: each slice aggregates with
    map-side partial combine, and the full-outer state merge RIDES the
    aggregates' hash partitioning — exactly two exchanges (one per
    slice), no third for the join, nothing broadcast-nested-loop."""
    import re

    plan = plan_of("pipeline_matview_append_combine")
    assert_no_cartesian(plan)
    assert_partial_aggregation(plan)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan


def test_matview_recompute_touched_groups_is_broadcast(plan_of):
    """Update/delete maintenance: the touched-group set reaches the
    base scan and the prior state through BROADCAST semi/anti joins —
    the recompute never shuffles the base on anything but the final
    group aggregate."""
    for name in (
        "pipeline_matview_update_recompute",
        "pipeline_matview_delete_groups",
    ):
        plan = plan_of(name)
        assert_no_cartesian(plan)
        assert plan.count("BroadcastExchange") >= 2, plan
        assert "BroadcastHashJoin" in plan, plan


def test_matview_star_append_broadcasts_dim_once_per_slice(plan_of):
    """Star-join view maintenance: each fact slice joins the dimension
    BROADCAST (two slices → two broadcast hash joins), aggregates with
    partial combine, and the state merge rides the aggregates' hash
    partitioning — two exchanges total, no shuffle join of the fact."""
    import re

    plan = plan_of("pipeline_matview_star_append")
    assert_no_cartesian(plan)
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan


def test_quality_anomaly_gate_scans_fact_once(spark):
    """The metric-anomaly gate's batch-count frame feeds four subtrees
    of one action; tracked-cached, the fact is scanned ONCE and every
    consumer reads the 8-row cache (uncached: 4 full re-scans)."""
    import re

    from bitcoin_datawarehouse_spark.functions.cachereg import (
        release_tracked_caches,
    )
    from bitcoin_datawarehouse_spark.plans.audit import df_plan
    from bitcoin_datawarehouse_spark.registry import QUERIES

    try:
        frame = QUERIES["pipeline_quality_metric_anomaly"](spark, SF_SMALL)
        plan = df_plan(frame)
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
        assert len(re.findall(r"\(\d+\) InMemoryTableScan", plan)) == 4, plan
    finally:
        release_tracked_caches()


def test_driver_local_frames_go_through_local_rows_df():
    """Round-12 find: ``createDataFrame`` on a plain Python row list
    slices the rows across defaultParallelism PYTHON partitions, and
    the coalesce(1..4) every control-table write applies then executes
    all slices sequentially in one task — one Python-worker round trip
    per slice, measured 4.4 s per 1-ROW pointer flip at local[32]
    (0.2 s through functions/localframe.py's Arrow-built
    LocalTableScan).  Structural guard: the only package caller of
    createDataFrame is the helper itself (its fallback), plus sites
    marked ``localframe-exempt``; the data-ingestion path
    (pipeline/schema.py's rows_to_df) goes through the helper too."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "bitcoin_datawarehouse_spark"
    sanctioned = {"localframe.py"}
    pat = re.compile(r"\.createDataFrame\(")
    offenders = []
    for py in pkg.rglob("*.py"):
        if py.name in sanctioned:
            continue
        lines = py.read_text().splitlines()
        for i, line in enumerate(lines, 1):
            code = line.split("#", 1)[0]
            if pat.search(code):
                # a '# localframe-exempt' comment within the 5 lines
                # above documents a deliberate inference-dependent site
                ctx = "\n".join(lines[max(0, i - 6): i])
                if "localframe-exempt" in ctx:
                    continue
                offenders.append(f"{py.relative_to(pkg)}:{i}: {line.strip()}")
    assert not offenders, (
        "driver-local frames must go through "
        "functions.localframe.local_rows_df:\n" + "\n".join(offenders)
    )
