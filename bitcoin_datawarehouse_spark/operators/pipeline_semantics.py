"""Oracle-gated, read-only expressions of the pipeline operators.

The loader's write-path semantics (SURVEY.md §2.2 K5-K8, §2.4 F3,
§2.5 A1) are exercised by tests/test_pipeline.py against a temp
warehouse; the queries here express the SAME dataflow shapes as pure
reads over the fixtures so the driver's DuckDB gate checks them at
sf0.01:

* merge/upsert  — new-batch-wins anti-join + union (pg_loader.py:219-270);
* delete        — predicate filter-rewrite (pg_loader.py:272-294);
* watermark     — MAX-probe then source-side lower-bound filter
                  (pg_loader.py:296-318 + __main__.py:102,114-115).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bitcoin_datawarehouse_spark.functions.scalars import scalar_cross
from bitcoin_datawarehouse_spark.pipeline import loader
from bitcoin_datawarehouse_spark.registry import query
from bitcoin_datawarehouse_spark.tables import load_table


@query(
    "pipeline_merge_upsert",
    oracle="""
    WITH target AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 7 <> 0
    ),
    batch AS (
      SELECT o_orderkey, 'M' AS o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT t.o_orderkey, t.o_orderstatus, t.o_totalprice
    FROM target t
    LEFT JOIN batch b ON b.o_orderkey = t.o_orderkey
    WHERE b.o_orderkey IS NULL
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM batch
    """,
)
def pipeline_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged-upsert dataflow: batch wins on key conflict, all non-key
    columns replaced; unmatched target rows kept; batch-only rows
    inserted.  Built by the loader's own merge expression
    (``loader._upsert``), so the gate checks what the pipeline runs.

    Scale shape: one anti-join on the merge key (broadcast when the
    planner sizes the batch under the broadcast threshold) + union;
    the target is read and written exactly once.
    """
    orders = load_table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    batch = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.lit("M").alias("o_orderstatus"),
        "o_totalprice",
    )
    return loader._upsert(target, batch, ["o_orderkey"])


@query(
    "pipeline_delete_where",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000)
    """,
)
def pipeline_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE-by-predicate as filter-rewrite: survivors of
    ``DELETE WHERE o_orderstatus='F' AND o_totalprice<50000``.

    The engine's Loader.delete_by_condition compiles the same free-form
    condition through F.expr; at scale the anti-predicate is pushed to
    the parquet scan (min/max row-group skipping on o_totalprice).
    """
    orders = load_table(spark, sf_dir, "orders")
    pred = F.expr("o_orderstatus = 'F' AND o_totalprice < 50000")
    return orders.filter(~pred).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@query(
    "pipeline_watermark_extract",
    oracle="""
    WITH wm AS (
      SELECT MAX(o_orderdate) AS w FROM orders WHERE o_orderdate < DATE '1996-01-01'
    )
    SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice
    FROM orders o, wm
    WHERE o.o_orderdate > wm.w
    """,
)
def pipeline_watermark_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental high-watermark extract: MAX-probe over the 'already
    loaded' slice, then a strict lower-bound filter — the engine's F3
    pushdown.

    The watermark is a one-row aggregate broadcast into the filter (no
    driver collect in the plan); on parquet the ``> wm`` predicate
    prunes row groups by min/max stats, the at-scale equivalent of the
    reference pushing the parameter into the remote query.
    """
    orders = load_table(spark, sf_dir, "orders")
    wm = (
        orders.filter(F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
        .agg(F.max("o_orderdate").alias("w"))
    )
    return (
        scalar_cross(orders, wm)
        .filter(F.col("o_orderdate") > F.col("w"))
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


@query(
    "pipeline_scd2_history",
    oracle="""
    WITH base AS (
      SELECT c_custkey, c_mktsegment AS seg, c_acctbal AS bal
      FROM customer
    )
    SELECT c_custkey, seg, bal,
           TIMESTAMP '2024-01-01' AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to,
           TRUE AS is_current
    FROM base WHERE c_custkey % 3 <> 0
    UNION ALL
    SELECT c_custkey, seg, bal,
           TIMESTAMP '2024-01-01', TIMESTAMP '2024-02-01', FALSE
    FROM base WHERE c_custkey % 3 = 0
    UNION ALL
    SELECT c_custkey, 'MOVED', bal, TIMESTAMP '2024-02-01', NULL, TRUE
    FROM base WHERE c_custkey % 3 = 0
    UNION ALL
    SELECT c_custkey + (SELECT MAX(c_custkey) + 1 FROM base), 'NEW', bal,
           TIMESTAMP '2024-02-01', NULL, TRUE
    FROM base WHERE c_custkey % 3 = 0
    """,
)
def pipeline_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history (``Loader.load_scd2``,
    loader.py:318) as a pure read: day-1 loads every customer, day-2
    re-delivers with a third of the segments changed plus a tranche of
    brand-new keys — the result is the full Kimball history (closed
    version + open version per changed key, untouched open versions
    elsewhere).

    The Spark side runs the loader's actual dataflow shapes — the
    null-safe change-detection join, the semi/anti split of the
    current slice, the open-version insert — not a literal UNION of
    the expected slices (that is the ORACLE's job).  At scale: one
    key-partitioned join of current×batch (batch broadcast when
    small) + pass-through of history; the oracle's closed-form UNION
    is what the history must equal, which is exactly what
    tests/test_pipeline.py pins against the stateful loader too.
    """
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        F.col("c_acctbal").alias("bal"),
    )
    d1 = F.lit("2024-01-01").cast("timestamp")
    d2 = F.lit("2024-02-01").cast("timestamp")
    open_to = F.lit(None).cast("timestamp")

    # day-1 target: every key current since d1
    cur = (
        base.withColumn("valid_from", d1)
        .withColumn("valid_to", open_to)
        .withColumn("is_current", F.lit(True))
    )
    # day-2 batch: a third change segment; a new-key tranche arrives.
    # The new-key offset is RUNTIME-ADAPTIVE (max+1, mirrored as a
    # scalar subquery in the oracle): a fixed +1000000 collided with
    # real custkeys at sf>=10 (gen_sf strides keys by 100000), where
    # the oracle's closed-form UNION and this dataflow would diverge
    # on the collided keys (review-caught).
    changed_in = base.filter(F.col("c_custkey") % 3 == 0).withColumn(
        "seg", F.lit("MOVED")
    )
    offset = base.agg(
        (F.max("c_custkey") + 1).alias("new_key_offset")
    )
    new_in = (
        base.filter(F.col("c_custkey") % 3 == 0)
        .crossJoin(F.broadcast(offset))
        .select(
            (F.col("c_custkey") + F.col("new_key_offset")).alias(
                "c_custkey"
            ),
            F.lit("NEW").alias("seg"),
            "bal",
        )
    )
    batch = changed_in.unionByName(new_in)

    # the loader's change detector: null-safe compare of non-key cols
    keys = ["c_custkey"]
    pair = cur.alias("t").join(F.broadcast(batch).alias("b"), keys)
    diff = ~(
        F.col("t.seg").eqNullSafe(F.col("b.seg"))
        & F.col("t.bal").eqNullSafe(F.col("b.bal"))
    )
    changed_keys = pair.filter(diff).select(*keys)
    ck = F.broadcast(changed_keys)
    closed = (
        cur.join(ck, keys, "leftsemi")
        .withColumn("valid_to", d2)
        .withColumn("is_current", F.lit(False))
    )
    kept = cur.join(ck, keys, "left_anti")
    new_keys = batch.select(*keys).join(
        cur.select(*keys), keys, "left_anti"
    )
    opened = (
        batch.join(
            F.broadcast(changed_keys.unionByName(new_keys)),
            keys,
            "leftsemi",
        )
        .withColumn("valid_from", d2)
        .withColumn("valid_to", open_to)
        .withColumn("is_current", F.lit(True))
    )
    return kept.unionByName(closed).unionByName(opened)


@query(
    "pipeline_scd2_point_in_time_join",
    oracle="""
    WITH base AS (
      SELECT c_custkey, c_mktsegment AS seg FROM customer
    ),
    hist AS (
      SELECT c_custkey, seg,
             TIMESTAMP '1995-01-01' AS valid_from,
             TIMESTAMP '1997-01-01' AS valid_to
      FROM base WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey, 'MOVED',
             TIMESTAMP '1997-01-01', CAST(NULL AS TIMESTAMP)
      FROM base WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey, seg, TIMESTAMP '1995-01-01', NULL
      FROM base WHERE c_custkey % 3 <> 0
    )
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, h.seg
    FROM orders o
    JOIN hist h
      ON o.o_custkey = h.c_custkey
     AND o.o_orderdate >= h.valid_from
     AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)
    """,
)
def pipeline_scd2_point_in_time_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SCD2 CONSUMPTION pattern: every fact row joins the
    dimension version that was valid AT FACT TIME (`valid_from <= t <
    valid_to`) — how a warehouse reports "segment as it was when the
    order was placed", not as it is today.

    At scale this is an equi-join on the key with a validity-interval
    residual — NOT a range join across keys: the interval predicate
    rides the custkey hash join as a post-condition, so the plan is
    the ordinary broadcast/shuffle fact⋈dim join (each key has a
    handful of versions; the residual filters them).  The history
    here is the same two-version shape ``pipeline_scd2_history``
    builds, dated so the fixture's 1995-2001 order dates SPAN the
    version boundary — about a third of the %3==0 facts land on each
    side of 1997-01-01, so the join genuinely selects versions by
    time, not degenerately.
    """
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )
    d1 = F.lit("1995-01-01").cast("timestamp")
    d2 = F.lit("1997-01-01").cast("timestamp")
    open_to = F.lit(None).cast("timestamp")
    third = base.filter(F.col("c_custkey") % 3 == 0)
    hist = (
        third.select(
            "c_custkey", "seg",
            d1.alias("valid_from"), d2.alias("valid_to"),
        )
        .unionByName(
            third.select(
                "c_custkey", F.lit("MOVED").alias("seg"),
                d2.alias("valid_from"), open_to.alias("valid_to"),
            )
        )
        .unionByName(
            base.filter(F.col("c_custkey") % 3 != 0).select(
                "c_custkey", "seg",
                d1.alias("valid_from"), open_to.alias("valid_to"),
            )
        )
    )
    o = load_table(spark, sf_dir, "orders")
    return (
        o.join(
            F.broadcast(hist),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("o_orderdate") >= F.col("valid_from"))
            & (
                F.col("valid_to").isNull()
                | (F.col("o_orderdate") < F.col("valid_to"))
            ),
        )
        .select("o_orderkey", "o_custkey", "o_orderdate", "seg")
    )


@query(
    "pipeline_quality_metric_anomaly",
    oracle="""
    WITH counts AS (
      SELECT o_custkey % 8 AS batch, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders
      WHERE NOT (o_custkey % 8 = 3 AND o_orderstatus <> 'F')
      GROUP BY 1
    ),
    med AS (SELECT CAST(MEDIAN(cnt) AS DOUBLE) AS med FROM counts),
    mad AS (
      SELECT CAST(MEDIAN(ABS(cnt - med)) AS DOUBLE) AS mad
      FROM counts, med
    )
    SELECT c.batch, c.cnt, m.med AS med, d.mad AS mad,
           (ABS(c.cnt - m.med) > CAST(4 AS DOUBLE) * d.mad) AS is_anomaly
    FROM counts c, med m, mad d
    """,
)
def pipeline_quality_metric_anomaly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Metric-history anomaly detection (pipeline/quality.py
    ``MetricHistory``) as a pure read: eight deterministic 'daily
    batches' of orders, one of which arrives SHORT (batch 3 loses its
    non-'F' rows — an internally-valid batch that is wrong against
    history, the failure mode per-batch expectations cannot see).
    Each batch's row count is judged against the batch population with
    the robust median ± k·MAD rule the class uses (k=4 here: at 3 the
    fixture's own sampling variance puts one HEALTHY batch 80.5 vs
    threshold 75 — a measured false positive; the planted batch sits
    at 49·MAD either way) (median, not mean:
    the bad batch itself cannot drag the baseline).  The short batch
    must flag, the seven healthy ones must not.

    Cross-engine exactness: counts are BIGINTs; both engines'
    median-of-even-N interpolate to the average of the two middle
    values (exact .5-grain doubles), so the flags hash bit-for-bit.
    Scale shape: one map-side-combined count aggregate over the fact,
    then two aggregates over the BATCH-sized frame and two 1-row
    broadcasts — history work is ledger-sized, never fact-sized.
    """
    from bitcoin_datawarehouse_spark.functions.cachereg import cache_tracked

    orders = load_table(spark, sf_dir, "orders")
    batch = (F.col("o_custkey") % 8).alias("batch")
    # the batch-count frame feeds FOUR subtrees of the one action
    # (median, the med-joined frame, MAD, the final projection) — an
    # uncached version re-scans the fact once per subtree (measured: 8
    # parquet scans in the plan).  8 rows; eagerly filled.
    counts = cache_tracked(
        orders.filter(
            ~(
                (F.col("o_custkey") % 8 == 3)
                & (F.col("o_orderstatus") != "F")
            )
        )
        .groupBy(batch)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    counts.count()
    med = counts.agg(F.median("cnt").cast("double").alias("med"))
    with_med = scalar_cross(counts, med)
    mad = with_med.agg(
        F.median(F.abs(F.col("cnt") - F.col("med"))).cast("double").alias("mad")
    )
    return (
        scalar_cross(with_med, mad)
        .select(
            "batch",
            "cnt",
            "med",
            "mad",
            (
                F.abs(F.col("cnt") - F.col("med"))
                > F.lit(4).cast("double") * F.col("mad")
            ).alias("is_anomaly"),
        )
    )
