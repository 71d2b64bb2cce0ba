"""Storage-layout operators: z-order clustering for multi-dimensional
data skipping.

A 100 TB fact table answers single-dimension range scans well if it is
sorted by that dimension — and terribly on every other dimension,
because each parquet row group's min/max for the un-sorted columns
span the whole domain.  Z-ordering (bit-interleaving order-preserving
bucket ids, functions/zorder.py) makes contiguous key ranges small
hyper-rectangles, so row-group stats stay tight on BOTH interleaved
dimensions and 2-D predicates prune most of the table
(measured at sf10: SCALING.md "Round 6: z-order clustering").

The gate query exposes the z-cell map of `orders` over
(customer, order-day): runtime-adaptive bucket scales (scalar MAX
subqueries — the AUTO_BITS_SQL precedent), exact monotone integer
bucketing, and the Morton interleave — all integer arithmetic, so the
DuckDB oracle computes bit-identical cell ids with `<<`/`&`/`|`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bitcoin_datawarehouse_spark.functions.zorder import (
    bucketize,
    sql_bucketize,
    sql_zorder2,
    zorder2,
)
from bitcoin_datawarehouse_spark.functions.scalars import scalar_cross
from bitcoin_datawarehouse_spark.registry import query
from bitcoin_datawarehouse_spark.tables import load_table
from bitcoin_datawarehouse_spark.functions.localframe import local_rows_df

#: z-key resolution per dimension (16 bits each → 32-bit Morton key)
Z_BITS = 16


@query(
    "storage_zorder_cells",
    oracle=f"""
    WITH scale AS (
      SELECT CAST(MAX(o_custkey) + 1 AS BIGINT) AS mc,
             MIN(CAST(o_orderdate AS DATE)) AS d0,
             CAST(date_diff('day', MIN(CAST(o_orderdate AS DATE)),
                            MAX(CAST(o_orderdate AS DATE))) + 1 AS BIGINT)
               AS md
      FROM orders
    ),
    buckets AS (
      SELECT
        {sql_bucketize("o_custkey", "mc", Z_BITS)} AS cust_bucket,
        {sql_bucketize(
            "date_diff('day', d0, CAST(o_orderdate AS DATE))",
            "md",
            Z_BITS,
        )} AS day_bucket
      FROM orders, scale
    ),
    cells AS (
      SELECT cust_bucket, day_bucket, COUNT(*) AS n_orders
      FROM buckets GROUP BY cust_bucket, day_bucket
    )
    SELECT {sql_zorder2("cust_bucket", "day_bucket")} AS zcell,
           cust_bucket, day_bucket,
           CAST(n_orders AS BIGINT) AS n_orders
    FROM cells
    """,
)
def storage_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-cell map of `orders` over (customer, order day): the Morton
    key every row would be clustered by, with per-cell row counts —
    the planning view a layout job inspects before rewriting a table
    (cell skew here = range-partition skew there).

    One scalar-aggregate broadcast (the two bucket scales) + one hash
    aggregate on the bucket pair; the interleave runs once per
    DISTINCT cell, after the aggregate.  Everything is exact integer
    arithmetic (monotone ``(v<<16)//(max+1)`` bucketing + magic-number
    bit spread), hash-gated bit-for-bit against the SQL mirror.
    """
    orders = load_table(spark, sf_dir, "orders")
    # BOTH date bounds are runtime-adaptive: a fixed epoch with the
    # fixture's exact MIN date had zero headroom — one earlier order
    # would make the day index negative, where the engines diverge
    # hard (DuckDB errors on shifting negatives, Spark's bucket
    # aliases onto legitimate cells; review-caught)
    scale = orders.agg(
        (F.max("o_custkey") + 1).cast("long").alias("mc"),
        F.min(F.to_date("o_orderdate")).alias("d0"),
        (
            F.datediff(
                F.to_date(F.max("o_orderdate")),
                F.to_date(F.min("o_orderdate")),
            )
            + 1
        )
        .cast("long")
        .alias("md"),
    )
    day = F.datediff(F.to_date("o_orderdate"), F.col("d0"))
    cells = (
        scalar_cross(orders, scale)
        .select(
            bucketize(F.col("o_custkey"), F.col("mc"), Z_BITS).alias(
                "cust_bucket"
            ),
            bucketize(day, F.col("md"), Z_BITS).alias("day_bucket"),
        )
        .groupBy("cust_bucket", "day_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    return cells.select(
        zorder2(F.col("cust_bucket"), F.col("day_bucket")).alias("zcell"),
        "cust_bucket",
        "day_bucket",
        "n_orders",
    )


# ---------------------------------------------------------------------------
# file-skipping manifest: Delta/Iceberg-style stats without the format
# ---------------------------------------------------------------------------

def _manifest_stats(
    spark: SparkSession, paths: list[str], cols: list[str]
) -> DataFrame:
    """The one manifest aggregate — per-file row count + min/max of
    each listed column over exactly the given parquet paths, grouped
    on the reader's ``_metadata.file_path``.  Shared by the full
    rebuild and the incremental append so both produce identical
    rows for the same file (the append ≡ rebuild pytest contract)."""
    df = spark.read.parquet(*paths).select(
        F.col("_metadata.file_path").alias("file_path"), *cols
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return df.groupBy("file_path").agg(*aggs)


def build_manifest(
    spark: SparkSession, path: str, cols: list[str]
) -> DataFrame:
    """Per-file statistics manifest of a parquet directory: row count
    + min/max of each listed column, keyed by file path — ONE scan.

    At 100 TB the point is not row-group pruning (the parquet reader
    already does that from footers) but FILE pruning without touching
    footers at all: a million-file table costs a million footer reads
    per planned scan, while this manifest is one small table consulted
    once.  Pairs with :func:`write_zordered` — z-clustered files have
    tight per-file min/max on every interleaved dimension, so the
    manifest prunes multi-dimensional predicates (measured in
    tests/test_zorder.py and SCALING.md).  After each load either
    :func:`append_manifest` over just the new files, or
    :func:`sync_manifest` to reconcile against the directory (handles
    compaction removing files too).
    """
    return _manifest_stats(spark, [path], cols)


def append_manifest(
    spark: SparkSession,
    manifest: DataFrame,
    new_paths: list[str],
    cols: list[str],
) -> DataFrame:
    """Incremental manifest maintenance after a load: stat ONLY the
    newly written files (the same aggregate :func:`build_manifest`
    runs, over just ``new_paths``) and splice them in — re-stated
    paths replace their old entries, so a re-run is idempotent.  Cost
    is ∝ batch, never ∝ table (the r6 VERDICT item: a full rebuild
    re-scans every historical file per load)."""
    if not new_paths:
        return manifest
    # eager localCheckpoint: two subtrees of the spliced plan read
    # ``fresh`` (the left_anti probe and the union), and it is
    # batch-sized (one stats row per new file) — checkpointing stats
    # the batch files once instead of twice per downstream action
    fresh = _manifest_stats(spark, new_paths, cols).localCheckpoint()
    return manifest.join(fresh, "file_path", "left_anti").unionByName(
        fresh
    )


def _as_file_uri(p: str) -> str:
    """Local path → the exact ``file:`` form Spark's
    ``_metadata.file_path`` emits, so listing-vs-manifest set algebra
    keys match."""
    return p if p.startswith("file:") else f"file:{p}"


def sync_manifest(
    spark: SparkSession,
    manifest: DataFrame | None,
    data_path: str,
    cols: list[str],
) -> DataFrame:
    """Reconcile a manifest with the directory's CURRENT parquet
    files: stat only files the manifest has never seen, and drop
    entries whose files vanished (compaction rewrote their block).

    The listing diff is driver-side set algebra over file PATHS —
    planning state, Delta-log-sized by design — while the only Spark
    job is the stats aggregate over the genuinely new files.  Dropping
    vanished entries is a CORRECTNESS duty, not hygiene: a manifest
    row pointing at a compacted-away file fails the pruned read
    outright (missing input), unlike stale-wide stats which merely
    over-read.  This is the per-trigger verb of the streaming ingest
    loop (streaming/ztable_stream.py).

    Driver footprint (r7 VERDICT item 5): only the one-column path
    projection is ever collected — the same order of driver memory the
    ``rglob`` listing itself already holds — never the stats rows.
    Surviving entries stay a Spark-side plan: unchanged when nothing
    vanished (the common no-compaction trigger), else a broadcast
    anti-join against the (typically tiny) vanished-path list.
    """
    import pathlib

    current = {
        _as_file_uri(str(p))
        for p in pathlib.Path(data_path).rglob("*.parquet")
    }
    if manifest is None:
        known: set[str] = set()
        kept = None
    else:
        known = {
            r[0] for r in manifest.select("file_path").collect()
        }
        vanished = sorted(known - current)
        if not vanished:
            kept = manifest
        elif len(vanished) == len(known):
            kept = None
        else:
            vdf = local_rows_df(spark, 
                [(p,) for p in vanished], "file_path string"
            )
            kept = manifest.join(
                F.broadcast(vdf), "file_path", "left_anti"
            )
    new_files = sorted(current - known)
    fresh = (
        _manifest_stats(spark, new_files, cols) if new_files else None
    )
    if kept is not None and fresh is not None:
        return kept.unionByName(fresh)
    if kept is not None:
        return kept
    if fresh is not None:
        return fresh
    raise ValueError(f"no parquet files under {data_path}")


def refresh_manifest_sidecar(
    spark: SparkSession, table_path: str, cols: list[str]
) -> DataFrame:
    """Sync the PERSISTED manifest of a block-layout table
    (``<table_path>/data`` → sidecar ``<table_path>/manifest`` — no
    underscore prefix: Spark's file index treats ``_``-prefixed paths
    as hidden and would ignore the sidecar's own files) with
    its current files and return the fresh manifest frame.

    The per-trigger verb of the streaming ingest loop: after every
    micro-batch (ingest + possible compaction) the sidecar must drop
    entries for compacted-away files — a stale entry is a read
    FAILURE, not an over-read — and stat only the batch's new files.
    The survivors plan may read the OLD sidecar's files
    (:func:`sync_manifest`'s anti-join path), which is safe because
    the tmp write — the only action over that plan — runs while the
    old sidecar still exists; the swap then touches directories only
    via atomic renames.

    Crashes: the sidecar is published by the catalog's ``swap_in``
    and recovered by its ``restore_missing`` on entry — see there.
    """
    import pathlib

    from bitcoin_datawarehouse_spark.pipeline import catalog

    mdir = pathlib.Path(table_path) / "manifest"
    catalog.restore_missing(mdir)
    old = spark.read.parquet(str(mdir)) if mdir.exists() else None
    fresh = sync_manifest(spark, old, str(mdir.parent / "data"), cols)
    tmp = catalog.staging_dir(mdir)
    fresh.coalesce(1).write.mode("overwrite").parquet(str(tmp))
    catalog.swap_in(tmp, mdir)
    return spark.read.parquet(str(mdir))


def manifest_pruned_read(
    spark: SparkSession,
    manifest: DataFrame,
    ranges: dict[str, tuple],
) -> tuple[DataFrame, int, int]:
    """Read only the files whose manifest stats intersect every
    ``col: (lo, hi)`` range, then re-apply the exact predicate.

    Returns ``(frame, files_read, files_total)``.  The range intersect
    runs as a ``manifest.filter(...)`` BEFORE the collect (r6 VERDICT
    item 3), so the driver transfers only the SURVIVING paths — at a
    million files with a selective predicate that is thousands of
    rows, not the whole planning table; the executors still never
    list or open skipped files.  Correctness does not depend on
    manifest freshness precision: stats are conservative (a stale-wide
    range only reads more), and the exact predicate re-applies on the
    surviving rows.
    """
    ipred = None
    for c, (lo, hi) in ranges.items():
        # NULL stats mean the file's column is ALL NULL (min/max skip
        # nulls) — no row can satisfy a range predicate, so skipping
        # is exact (isNotNull keeps the 3VL comparison false, never
        # unknown)
        p = (
            F.col(f"min_{c}").isNotNull()
            & (F.col(f"min_{c}") <= F.lit(hi))
            & (F.col(f"max_{c}") >= F.lit(lo))
        )
        ipred = p if ipred is None else (ipred & p)
    total = manifest.count()
    if total == 0:
        raise ValueError("empty manifest — build it over a written table")
    survivors = manifest.filter(ipred) if ipred is not None else manifest
    keep = [r["file_path"] for r in survivors.select("file_path").collect()]
    pred = None
    for c, (lo, hi) in ranges.items():
        p = (F.col(c) >= F.lit(lo)) & (F.col(c) <= F.lit(hi))
        pred = p if pred is None else (pred & p)
    if not keep:
        anyfile = manifest.select("file_path").first()["file_path"]
        base = spark.read.parquet(anyfile).where(F.lit(False))
        return base, 0, total
    return (
        spark.read.parquet(*keep).where(pred),
        len(keep),
        total,
    )
