"""Structured Streaming layer (SURVEY.md §2.10, §7.6).

The reference has no streaming — its incrementality is batch-pull
with a persisted high watermark (reference ``pg_loader.py:296-318`` +
``__main__.py:102,114-115``).  This module gives that same
incrementality a genuine streaming execution: the identical merge
semantics run under ``foreachBatch``, plus the late-data machinery
the batch pipeline cannot express — event-time watermarks, tumbling /
sliding window aggregates, and within-watermark dedup.

Design notes for scale:

* every transformation here is the same declarative DataFrame code the
  batch layer uses — micro-batch vs batch is an execution detail, so
  one codebase serves both (the Structured Streaming model);
* ``foreachBatch`` + ``Loader.load_incremental`` makes each micro-batch
  an idempotent key-merge: exactly-once table state under at-least-once
  delivery, because replays upsert the same keys (the checkpoint dir
  carries offsets; the merge makes replays harmless);
* watermarks bound the state store: a window aggregate without a
  watermark grows state forever at 100 TB/day — every stateful op here
  requires one.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from bitcoin_datawarehouse_spark.pipeline.catalog import Warehouse
from bitcoin_datawarehouse_spark.pipeline.loader import Loader
from bitcoin_datawarehouse_spark.functions.localframe import local_rows_df

#: events fixture schema (ts already truncated to micros by the batch
#: reader; streaming file sources need an explicit schema anyway)
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, events_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a directory of event parquet files.

    At scale this is the landing zone of an ingestion bus; the file
    source gives replayable offsets (file names) for exactly-once.
    """
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(events_dir)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    decimal_sums: bool = False,
) -> DataFrame:
    """Watermarked tumbling (or sliding) window aggregate:
    count + sum(value) per (window, event_type).

    The watermark lets the state store evict windows older than
    event-time max minus the delay — bounded state regardless of run
    length; late rows within the delay still merge into their window.

    ``decimal_sums`` switches the value sum to DECIMAL(38,10) — an
    order-independent exact sum for cross-engine verification (see
    functions/numeric.py); micro-batch boundaries then cannot perturb
    the result.
    """
    w = (
        F.window("ts", window, slide)
        if slide
        else F.window("ts", window)
    )
    from bitcoin_datawarehouse_spark.functions.numeric import DEC

    val = F.col("value").cast(DEC) if decimal_sums else F.col("value")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(val).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def dedup_within_watermark(
    events: DataFrame, keys: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """Streaming dedup with bounded state: duplicates arriving within
    the watermark delay are dropped; state for old keys is evicted.
    (The streaming analog of the loader's intra-batch key dedupe.)
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys
    )


def start_available_now(
    stream: DataFrame,
    body: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start ``stream`` with ``body(batch_df, batch_id)`` as its
    ``foreachBatch`` and an ``availableNow`` trigger: drain everything
    the source holds, then stop (tests and backfills; the checkpoint in
    ``checkpoint_dir`` carries the committed offsets across restarts).
    Every stream in this package starts here, so the trigger policy
    has one owner."""
    return (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def merge_stream_into_table(
    events: DataFrame,
    wh: Warehouse,
    schema: str,
    table: str,
    keys: list[str],
    checkpoint_dir: str,
    order_col: str | None = "ts",
    partition_col: str | None = None,
) -> StreamingQuery:
    """Run the batch layer's incremental merge per micro-batch.

    Each micro-batch is deduped on ``keys`` and upserted into the
    parquet target — the reference's staged upsert (pg_loader.py:219-270)
    as a continuous process.  Idempotent under micro-batch replay:
    replays upsert the same keys.  The merge follows the target's
    layout (``Loader.load_incremental``): a Hive-partitioned target —
    ``partition_col`` lays out one the first micro-batch creates —
    rewrites only the partitions each micro-batch touches, so a steady
    stream into a growing fact costs O(touched partitions) per trigger,
    not O(history).
    """

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bwh = Warehouse(batch_df.sparkSession, str(wh.root), wh.keep_versions)
        Loader(bwh, schema, table).load_incremental(
            batch_df, unique_keys=keys, order_col=order_col,
            partition_col=partition_col,
        )

    return start_available_now(events, merge_batch, checkpoint_dir)


def scd2_stream_into_table(
    events: DataFrame,
    wh: Warehouse,
    schema: str,
    table: str,
    keys: list[str],
    checkpoint_dir: str,
    ts_col: str = "ts",
    compare_cols: list[str] | None = None,
) -> StreamingQuery:
    """SCD Type-2 dimension maintenance as a continuous process: each
    micro-batch runs ``Loader.load_scd2``, so a changed key closes its
    open version and a new one opens — streaming dimension history.

    ``batch_ts`` is the micro-batch's ``MAX(ts_col)`` — derived from
    the DATA, not the wall clock, so a checkpoint replay of the last
    uncommitted batch re-applies with the IDENTICAL stamp and the
    loader's value-level no-op makes the loop exactly-once without
    bookkeeping.  ``compare_cols`` defaults to every column except
    the keys and ``ts_col`` (the event time rides along as payload
    but must not read as a change).  The loader's time-ordered guard
    applies per batch: a source feeding DECREASING event-time batches
    fails loudly instead of interleaving history.

    Every frame inside the closure builds from the micro-batch's own
    session (the foreachBatch session-mixing rule — streaming/
    ann_stream.py's silent-no-write lesson).
    """

    def scd2_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bwh = Warehouse(batch_df.sparkSession, str(wh.root), wh.keep_versions)
        ts = batch_df.agg(F.max(ts_col)).first()[0]
        cmp_cols = compare_cols or [
            c
            for c in batch_df.columns
            if c not in keys and c != ts_col
        ]
        Loader(bwh, schema, table).load_scd2(
            batch_df,
            unique_keys=keys,
            batch_ts=ts.isoformat(sep=" ")
            if hasattr(ts, "isoformat")
            else str(ts),
            compare_cols=cmp_cols,
            order_col=ts_col,
        )

    return start_available_now(events, scd2_batch, checkpoint_dir)


def drift_monitor_stream(
    events: DataFrame,
    wh: Warehouse,
    schema: str,
    ledger_table: str,
    reference: list[tuple[int, int]],
    value_col: str,
    bucket_width: float,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming drift monitor: per micro-batch, the total-variation
    distance between the batch's ``value_col`` distribution and a
    PINNED reference histogram, appended to a drift ledger — the
    alerting loop `profile_drift_tv` is the batch version of
    ("refuse/flag the load when the incoming distribution departs").

    ``reference`` is a small collected histogram ``[(bucket, n), …]``
    (model-sized, like a codebook — pinning it is the point: drift is
    measured against a FIXED baseline, not a moving one).  It is
    re-created inside each micro-batch from the driver-held list, so
    no main-session frame ever mixes into the batch session (the
    foreachBatch rule).  The ledger row carries (batch_id, n_rows,
    tv) — batch_id, not wall clock, so replays are recognizable and
    the ledger is reproducible.

    The TV chain matches profile_drift_tv: exact counts, one
    correctly-rounded division per bucket, exact-decimal |diff|
    accumulation — bit-reproducible, so the pytest pins the streamed
    ledger against batch-computed values exactly.
    """
    from bitcoin_datawarehouse_spark.functions.numeric import (
        DEC,
        str_round6,
    )

    n_ref_total = sum(n for _, n in reference)

    def monitor_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bspark = batch_df.sparkSession
        bwh = Warehouse(bspark, str(wh.root), wh.keep_versions)
        ref = local_rows_df(bspark, 
            list(reference), "bucket bigint, n_ref bigint"
        )
        cur = batch_df.groupBy(
            F.floor(F.col(value_col) / bucket_width)
            .cast("bigint")
            .alias("bucket")
        ).agg(F.count(F.lit(1)).alias("n_cur"))
        from pyspark.sql import Window as _W

        w = _W.partitionBy()  # bounded: one row per bucket
        joined = ref.join(cur, "bucket", "full_outer").select(
            F.coalesce(F.col("n_ref"), F.lit(0)).alias("n_ref"),
            F.coalesce(F.col("n_cur"), F.lit(0)).alias("n_cur"),
        )
        p_ref = F.col("n_ref").cast("double") / F.lit(float(n_ref_total))
        p_cur = F.col("n_cur").cast("double") / F.sum("n_cur").over(w)
        tv = (
            F.lit(0.5)
            * F.sum(F.abs(p_ref - p_cur).cast(DEC))
            .over(w)
            .cast("string")
            .cast("double")
        )
        row = (
            joined.select(
                F.lit(batch_id).alias("batch_id"),
                F.sum("n_cur").over(w).alias("n_rows"),
                str_round6(tv).alias("tv"),
            )
            .limit(1)
        )
        bwh.append(row.coalesce(1), schema, ledger_table)

    return start_available_now(events, monitor_batch, checkpoint_dir)


def run_stream_to_completion(query: StreamingQuery, timeout_s: float = 300.0) -> None:
    """Await an availableNow-triggered stream (drains all input, stops)."""
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError("stream did not drain within timeout")
