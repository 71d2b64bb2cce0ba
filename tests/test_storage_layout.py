"""Storage-layout tests: partition pruning and shuffle-free bucketed
joins — plan-level proof, not just row correctness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bitcoin_datawarehouse_spark.pipeline import Warehouse
from bitcoin_datawarehouse_spark.plans.audit import df_plan
from bitcoin_datawarehouse_spark.tables import load_table
from tests.conftest import SF_SMALL


def test_partitioned_write_prunes(spark, tmp_warehouse):
    wh = Warehouse(spark, tmp_warehouse)
    orders = load_table(spark, SF_SMALL, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    wh.write_atomic(orders, "bitcoin", "orders_part", partition_by=["order_year"])

    df = wh.read("bitcoin", "orders_part").filter(F.col("order_year") == 1995)
    plan = df_plan(df)
    assert "PartitionFilters" in plan
    assert "order_year" in plan.split("PartitionFilters")[1][:200]
    # pruned read returns exactly the matching rows
    expect = orders.filter(F.col("order_year") == 1995).count()
    assert df.count() == expect


def test_partitioned_write_is_clustered(spark, tmp_warehouse):
    """A partitionBy write hash-clusters on the partition column first:
    an 8-task input with 5 values writes ONE file per value directory,
    not one per (task, value)."""
    wh = Warehouse(spark, tmp_warehouse)
    df = spark.range(0, 400, numPartitions=8).withColumn("c", F.col("id") % 5)
    wh.write_atomic(df, "lab", "clustered", partition_by=["c"])
    root = wh.table_path("lab", "clustered")
    per_dir = {d.name: len(list(d.glob("*.parquet"))) for d in root.glob("c=*")}
    assert per_dir == {f"c={v}": 1 for v in range(5)}
    assert wh.read("lab", "clustered").count() == 400


def test_bucketed_join_has_no_shuffle(spark, tmp_warehouse):
    wh = Warehouse(spark, tmp_warehouse)
    orders = load_table(spark, SF_SMALL, "orders")
    lineitem = load_table(spark, SF_SMALL, "lineitem")
    t_orders = wh.write_bucketed(
        orders, "lab", "orders_b", ["o_orderkey"], 8
    )
    t_items = wh.write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lab", "lineitem_b", ["o_orderkey"], 8,
    )
    joined = (
        spark.table(t_orders)
        .hint("merge")  # force sort-merge so broadcast doesn't mask bucketing
        .join(spark.table(t_items), "o_orderkey")
        .select("o_orderkey", "o_totalprice", "l_quantity")
    )
    plan = df_plan(joined)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, "bucketed join must not shuffle"
    # row correctness vs the plain join
    expect = (
        orders.join(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
            "o_orderkey",
        ).count()
    )
    assert joined.count() == expect


def test_table_cache_ignores_stale_session_entries(spark):
    """Regression: a _TABLE_CACHE entry left by a stopped session must
    not suppress re-caching in the new one, and uncache_tables must
    skip (not unpersist) dead-session frames yet still clear the
    registry."""
    from bitcoin_datawarehouse_spark import tables as tb

    class _DeadFrame:
        sparkSession = object()  # never the live session

        def unpersist(self):
            raise AssertionError("unpersist called on dead-session frame")

    saved = dict(tb._TABLE_CACHE)
    tb._TABLE_CACHE.clear()
    try:
        tb._TABLE_CACHE[(SF_SMALL, "region")] = _DeadFrame()
        tb.cache_tables(spark, SF_SMALL, ["region"])
        hit = tb._TABLE_CACHE[(SF_SMALL, "region")]
        assert hit.sparkSession is spark  # stale entry was replaced
        assert tb.load_table(spark, SF_SMALL, "region") is hit

        tb._TABLE_CACHE[(SF_SMALL, "nation")] = _DeadFrame()
        tb.uncache_tables(spark)  # must not raise on the dead frame
        assert not tb._TABLE_CACHE
    finally:
        tb._TABLE_CACHE.clear()
        tb._TABLE_CACHE.update(saved)


@pytest.fixture(autouse=True, scope="module")
def _cleanup_catalog(spark):
    yield
    for t in ("lab_orders_b", "lab_lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_zorder_layout_skips_files_in_both_dimensions(spark, tmp_warehouse):
    """Footer min/max stats of a z-ordered layout form tight (x, y)
    rectangles: a small rectangle predicate overlaps far fewer files
    than under a hash layout (which spreads every value range into
    every file)."""
    import pyarrow.parquet as pq

    wh = Warehouse(spark, tmp_warehouse)
    grid = spark.range(10_000).select(
        (F.col("id") % 100).alias("x"), (F.col("id") / 100).cast("long").alias("y")
    )
    wh.write_zordered(grid, "lab", "grid_z", ("x", "y"), n_files=16)
    grid.repartition(16).write.mode("overwrite").parquet(
        str(wh.table_path("lab", "grid_hash"))
    )

    def overlapping_files(table: str, lo: int, hi: int) -> int:
        hit = 0
        for f in wh.table_path("lab", table).glob("*.parquet"):
            md = pq.read_metadata(f)
            mins = {"x": None, "y": None}
            maxs = {"x": None, "y": None}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name in mins and col.statistics is not None:
                        s = col.statistics
                        mins[name] = (
                            s.min if mins[name] is None else min(mins[name], s.min)
                        )
                        maxs[name] = (
                            s.max if maxs[name] is None else max(maxs[name], s.max)
                        )
            if all(
                mins[c] is not None and not (maxs[c] < lo or mins[c] > hi)
                for c in ("x", "y")
            ):
                hit += 1
        return hit

    z_hit = overlapping_files("grid_z", 10, 19)
    hash_hit = overlapping_files("grid_hash", 10, 19)
    # hash layout: every file spans the whole domain -> all overlap;
    # z-order: a 10x10 rectangle of a 100x100 grid touches few curve
    # segments
    assert hash_hit == 16
    assert z_hit < hash_hit / 2, (z_hit, hash_hit)
    # layout preserves the rows
    assert wh.read("lab", "grid_z").count() == 10_000


def test_zorder_empty_input_writes_empty_table(spark, tmp_warehouse):
    """An empty frame has NULL min/max extremes; write_zordered must
    write an empty table instead of TypeError-ing on None arithmetic."""
    wh = Warehouse(spark, tmp_warehouse)
    empty = (
        load_table(spark, SF_SMALL, "orders")
        .select(
            F.col("o_orderkey").alias("x"), F.col("o_custkey").alias("y")
        )
        .filter(F.lit(False))
    )
    wh.write_zordered(empty, "lab", "empty_z", ("x", "y"), n_files=4)
    out = wh.read("lab", "empty_z")
    assert out.count() == 0
    assert set(out.columns) == {"x", "y"}
