"""Streaming ingest into the z-block-partitioned table.

The storage tier's batch loop (operators/ztable.ZOrderedTable: seed →
ingest → compact → pruned read) run under Structured Streaming —
the arrival path of a continuously-loaded clustered fact table.
Every micro-batch appends through the same clustered block write the
batch verb uses, then auto-compacts whatever blocks crossed the
file-count threshold, so a long-running stream cannot accrete
unbounded small files (the LshDedupIndex / IvfIndex auto-compaction
contract, applied to the storage tier).

Exactly-once: a failed-and-replayed micro-batch would append its rows
twice — the table has no key semantics of its own, so the wrapper
takes the caller's row-identity column and anti-joins the batch
against ids already in the table (a column-pruned scan of just that
column).  A replay is then a no-op; the in-batch ``dropDuplicates``
first closes the duplicate-within-one-trigger window (the ann_stream
lesson).  At corpus scale the probe swaps for a bloom filter or an
id watermark — physical-only changes.

Single-session plans only: every frame inside ``foreachBatch`` builds
from ``batch_df.sparkSession`` (mixing it with main-session frames
silently wrote nothing through saveAsTable in ann_stream — documented
there, same discipline here; this module only touches paths, but the
batch session still owns every read).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from bitcoin_datawarehouse_spark.functions.cachereg import cache_tracked
from bitcoin_datawarehouse_spark.operators.ztable import ZOrderedTable
from bitcoin_datawarehouse_spark.streaming.jobs import start_available_now


def run_ztable_ingest_stream(
    row_stream: DataFrame,
    table: ZOrderedTable,
    id_col: str,
    checkpoint_dir: str,
    manifest_cols: list[str] | None = None,
) -> StreamingQuery:
    """Stream ``row_stream`` into ``table`` (which must be seeded).
    ``id_col`` is the caller's row-identity column for the replay
    guard.  ``availableNow`` drains and stops — tests/backfills; a
    deployment swaps the trigger for a processing-time interval.

    ``manifest_cols`` (optional) keeps the table's file-skipping
    manifest sidecar fresh INSIDE the loop: after every trigger's
    ingest + compaction, :func:`refresh_manifest_sidecar` drops
    entries for compacted-away files and stats only the batch's new
    ones — so ``manifest_pruned_read`` stays correct at every trigger
    boundary (a stale entry is a missing-file read failure, not an
    over-read; r7 composition pytest pins the equality per trigger).
    """

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fresh = batch_df.dropDuplicates([id_col])
        seen = table.read_all_with(spark).select(id_col)
        # cache before the emptiness probe: without it the probe and
        # the write each re-run the dedup + whole-table anti-join
        # (review-caught — doubles the per-trigger guard cost).
        # cache_tracked (never bare persist) + call-site unpersist is
        # the streaming-ingest pattern; the registry self-prunes
        # released handles.
        fresh = cache_tracked(fresh.join(seen, id_col, "left_anti"))
        try:
            if fresh.count() > 0:
                table.ingest(fresh)
                table.compact()
                if manifest_cols is not None:
                    from bitcoin_datawarehouse_spark.operators.storage import (
                        refresh_manifest_sidecar,
                    )

                    refresh_manifest_sidecar(
                        spark, str(table.path), manifest_cols
                    )
        finally:
            fresh.unpersist()

    return start_available_now(row_stream, ingest, checkpoint_dir)
