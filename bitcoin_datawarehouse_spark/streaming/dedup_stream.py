"""Streaming near-dup dedup against the persisted LSH index.

The batch production loop (operators/lsh_index.LshDedupIndex) keeps
the corpus' MinHash signatures materialized and decides each incoming
batch against them.  This module runs that SAME loop under Structured
Streaming: every micro-batch of documents is shingled by the Arrow
kernel (``dedup.shingle_sets_frame`` — raw text is touched exactly
once, at arrival), decided against the index (arrival-ordered: the
persisted corpus, then earlier doc_ids within the micro-batch), and
appended to it, with decisions accumulating in the index's warehouse
ledger.

Semantics and scale are inherited wholesale from the batch loop —
``foreachBatch`` is deliberately the integration point (same pattern
as streaming/jobs.merge_stream_into_table): per-trigger cost is
bounded by the micro-batch, the band table is the only corpus-wide
join surface, and a stream restart resumes from the checkpoint.

Exactly-once: a failed-and-replayed micro-batch would re-ingest its
documents, so the wrapper splits the batch PER DOC against the
doc_ids already in the index's docsets table — a clean replay
becomes a no-op and the ledger stays duplicate-free (the same
idempotence contract the loader's staged upsert provides for
relational streams).  The three writes per trigger (per-ingest
decisions table, band/docset append, ledger append) cannot be one
atomic transaction on a file warehouse, so the replay path also
REPAIRS, covering every crash position:

* crash between the bands append and the docsets append — the whole
  batch still looks fresh (freshness is decided on docsets), so it
  re-ingests; ``LshDedupIndex._append`` is idempotent (per-table
  doc_id anti-join) and ``decide_batch`` excludes self-pairs, so the
  re-decision is bit-identical and the half-written bands rows are
  not duplicated;
* crash after the full index append but before the ledger append —
  every batch doc is already indexed; its decisions survive only in
  the per-ingest decisions table, and the replay backfills exactly
  the un-ledgered rows from there instead of re-ingesting (which
  would atomically replace that table with an empty frame and
  destroy the only remaining copy);
* crash mid-docsets-append (a partially committed parquet append) —
  the already-indexed subset is ledger-backfilled from the
  per-ingest decisions table FIRST (ingesting the fresh remainder
  replaces that table), then the fresh remainder re-ingests.

Residual caveat, documented rather than hidden: in the third case a
fresh doc is re-decided against an index that already contains its
LATER same-batch siblings, so an arrival-order decision (`earlier
doc never matches a later one`) can flip for that doc if a later
sibling is a near-dup.  Reaching it requires a crash inside one
parquet append job commit that persists some tasks' files and not
others; the ledger still converges to one decision row per doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from bitcoin_datawarehouse_spark.operators.dedup import shingle_sets_frame
from bitcoin_datawarehouse_spark.operators.lsh_index import LshDedupIndex
from bitcoin_datawarehouse_spark.streaming.jobs import start_available_now


def run_lsh_dedup_stream(
    doc_stream: DataFrame,
    index: LshDedupIndex,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start a streaming ingest of ``doc_stream`` (schema: doc_id
    long, text string) into ``index``.  Uses ``availableNow`` so tests
    and backfills drain the source and stop; a production deployment
    swaps the trigger for a processing-time interval."""

    ledger_table = f"{index.decisions_table}_stream"

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from bitcoin_datawarehouse_spark.functions.cachereg import (
            cache_tracked,
        )

        # one kernel pass over the raw text, cached: the fresh/indexed
        # split below reads it from two subtrees (CLAUDE.md rule)
        docsets = cache_tracked(shingle_sets_frame(batch_df))
        docsets.count()
        try:
            if index.exists():
                seen = index._docsets().select("doc_id")
                fresh = docsets.join(seen, "doc_id", "left_anti")
                indexed_ids = docsets.select("doc_id").join(
                    seen, "doc_id", "left_semi"
                )
            else:
                fresh, indexed_ids = docsets, None

            # 1) PER-DOC ledger backfill for the already-indexed subset,
            # BEFORE any re-ingest: their decisions exist only in the
            # per-ingest decisions table, which ingest_batch on the
            # fresh remainder would atomically replace.  Keyed by
            # ledger anti-join so a clean replay appends nothing.
            if (
                indexed_ids is not None
                and indexed_ids.limit(1).count() > 0
                and index.wh.table_exists(
                    index.schema, index.decisions_table
                )
            ):
                recovered = index.wh.read(
                    index.schema, index.decisions_table
                ).join(indexed_ids, "doc_id")
                if index.wh.table_exists(index.schema, ledger_table):
                    ledgered = index.wh.read(
                        index.schema, ledger_table
                    ).select("doc_id")
                    recovered = recovered.join(
                        ledgered, "doc_id", "left_anti"
                    )
                if recovered.limit(1).count() > 0:
                    index.wh.append(
                        recovered.withColumn("batch_id", F.lit(batch_id)),
                        index.schema,
                        ledger_table,
                    )

            # 2) ingest the fresh remainder (whole batch on first
            # delivery; the not-yet-indexed subset after a mid-append
            # crash; empty on a clean replay)
            if fresh.limit(1).count() > 0:
                decisions = index.ingest_batch(fresh)
                # cumulative stream ledger (the per-ingest table is
                # replaced each micro-batch; auditing a stream needs
                # the union), stamped with the micro-batch ordinal
                index.wh.append(
                    decisions.withColumn("batch_id", F.lit(batch_id)),
                    index.schema,
                    ledger_table,
                )
        finally:
            docsets.unpersist()

    return start_available_now(doc_stream, ingest, checkpoint_dir)
