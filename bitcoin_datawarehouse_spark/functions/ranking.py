"""Distributed global ranking without a single-partition window.

``row_number() OVER (ORDER BY ...)`` with no PARTITION BY funnels the
entire input through ONE task — fine for a bounded per-day series,
a corpus-killer for one-row-per-document frames (billions of rows at
100 TB).  This module computes the identical global rank with the
classic two-phase scheme:

1. range-repartition on the total-order key (Spark samples boundaries,
   equal keys land in one partition; the order columns must form a
   total order — pass a unique tiebreaker),
2. local ``row_number`` per physical partition (a PARTITIONED window),
3. per-partition counts (one tiny aggregate, #partitions rows) turned
   into cumulative offsets with a window over that bounded frame,
4. broadcast the offsets back and add.

Every per-row stage is partition-parallel; the only unpartitioned
window runs over ``#partitions`` rows.  The result is bit-identical to
the monolithic ``row_number`` because both are determined by the same
total order.

``ntile_bucket`` reproduces SQL NTILE(k) arithmetic from the global
rank + total count, so tertile bucketing (CCNet head/middle/tail)
stays integer-exact against an NTILE oracle while the plan scales.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

_PID = "_rk_pid"
_OFFSET = "_rk_offset"
_TOTAL = "_rk_total"


def with_global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_alias: str = "global_rank",
    total_alias: str = "total_rows",
) -> DataFrame:
    """Append a dense 1-based global row number over ``order_cols``
    (which must define a total order — include a unique tiebreaker)
    plus the total row count, without any single-partition shuffle of
    the data rows.
    """
    spark = df.sparkSession
    npart = spark.sparkContext.defaultParallelism
    keyed = df.repartitionByRange(npart, *order_cols).withColumn(
        _PID, F.spark_partition_id()
    )
    # two plan subtrees (counts + ranked rows) read `keyed`, and the
    # range-boundary sampling upstream is nondeterministic (shuffle
    # fetch order) — they must see the SAME boundaries.  An eager
    # localCheckpoint freezes them: lineage truncates at materialized
    # blocks, so every subtree and every later re-materialization
    # reads the one frozen partitioning.  Unlike df.persist (whose
    # CacheManager entry lives until an explicit unpersist — the leak
    # class the old module-global registry managed), checkpoint
    # blocks are RDD-owned: the ContextCleaner unpersists them when
    # the plan is garbage-collected, so library callers can loop
    # ranked queries without a release protocol.
    keyed = keyed.localCheckpoint()

    counts = keyed.groupBy(_PID).agg(F.count(F.lit(1)).alias("_cnt"))
    # bounded frame: one row per partition (≤ cluster parallelism), so
    # the unpartitioned windows here are safe at any data scale
    woff = W.orderBy(_PID).rowsBetween(W.unboundedPreceding, -1)
    wtot = W.orderBy(_PID).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    offsets = counts.select(
        _PID,
        F.coalesce(F.sum("_cnt").over(woff), F.lit(0)).alias(_OFFSET),
        F.sum("_cnt").over(wtot).alias(_TOTAL),
    )

    wloc = W.partitionBy(_PID).orderBy(*order_cols)
    return (
        keyed.withColumn("_rk_local", F.row_number().over(wloc))
        .join(F.broadcast(offsets), _PID)
        .withColumn(rank_alias, (F.col("_rk_local") + F.col(_OFFSET)))
        .withColumn(total_alias, F.col(_TOTAL))
        .drop(_PID, _OFFSET, _TOTAL, "_rk_local")
    )


def _floordiv(a: Column, b: Column) -> Column:
    """Exact integer floor division for non-negative long operands.

    ``(a / b).cast('long')`` goes through DOUBLE division, which can
    round UP to the next integer once products approach 2^53 —
    misassigning boundary ranks at exactly the billions-of-rows scale
    this module targets.  Route through DECIMAL(38,0): stripping the
    remainder first makes the decimal quotient exact, and the long cast
    truncates nothing.
    """
    ad = a.cast("decimal(38,0)")
    bd = b.cast("decimal(38,0)")
    return ((ad - F.pmod(ad, bd)) / bd).cast("long")


def ntile_bucket(rank: Column, total: Column, k: int) -> Column:
    """The NTILE(k) bucket (1-based) of a 1-based global ``rank`` in a
    frame of ``total`` rows — SQL NTILE arithmetic: the first
    ``total % k`` buckets hold ``total DIV k + 1`` rows, the rest
    ``total DIV k``.  Closed form: with q = total DIV k, r = total % k,
    a rank lands in bucket ``(rank-1) DIV (q+1) + 1`` while inside the
    oversized region and ``r + (rank - r*(q+1) - 1) DIV q + 1`` after.
    All arithmetic is exact integer/decimal — no double intermediates
    (see :func:`_floordiv`).
    """
    q = _floordiv(total, F.lit(k))
    r = total - q * k
    big_span = r * (q + 1)
    return F.when(
        rank <= big_span, _floordiv(rank - 1, q + 1) + 1
    ).otherwise(r + _floordiv(rank - big_span - 1, q) + 1)


def with_global_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    prefix_alias: str = "prefix_sum",
    total_alias: str = "total_sum",
) -> DataFrame:
    """Append the EXCLUSIVE global running sum of ``value_col`` over
    the total order ``order_cols`` (plus the grand total) — the scan
    primitive, same two-phase scheme as :func:`with_global_rank`:
    range-repartition on the order key, per-partition local prefix
    (a PARTITIONED window), per-partition sums → broadcast cumulative
    offsets.  ``SUM(v) OVER (ORDER BY …)`` without PARTITION BY is the
    same single-task funnel as global row_number; this is its
    partition-parallel replacement, bit-identical because both are
    determined by the same total order (exact for integer values; for
    doubles the fold order would differ — keep values integral)."""
    spark = df.sparkSession
    npart = spark.sparkContext.defaultParallelism
    keyed = df.repartitionByRange(npart, *order_cols).withColumn(
        _PID, F.spark_partition_id()
    )
    # same nondeterministic-boundary argument as with_global_rank:
    # counts and rows must see ONE frozen range partitioning
    keyed = keyed.localCheckpoint()

    sums = keyed.groupBy(_PID).agg(F.sum(value_col).alias("_psum"))
    woff = W.orderBy(_PID).rowsBetween(W.unboundedPreceding, -1)
    wtot = W.orderBy(_PID).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    offsets = sums.select(
        _PID,
        F.coalesce(F.sum("_psum").over(woff), F.lit(0)).alias(_OFFSET),
        F.sum("_psum").over(wtot).alias(_TOTAL),
    )

    wloc = (
        W.partitionBy(_PID)
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        keyed.withColumn(
            "_ps_local",
            F.coalesce(F.sum(value_col).over(wloc), F.lit(0)),
        )
        .join(F.broadcast(offsets), _PID)
        .withColumn(prefix_alias, F.col("_ps_local") + F.col(_OFFSET))
        .withColumn(total_alias, F.col(_TOTAL))
        .drop(_PID, _OFFSET, _TOTAL, "_ps_local")
    )
