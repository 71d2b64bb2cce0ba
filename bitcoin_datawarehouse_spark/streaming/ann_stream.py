"""Streaming vector ingest into the persisted IVF index.

The batch loop (operators/ivf_index.IvfIndex) assigns new vectors to
the persisted codebook and appends them to the bucketed inverted
lists.  This module runs that SAME loop under Structured Streaming —
the arrival path of a production embedding pipeline (an encoder fleet
emits vectors continuously; searches must see them without a
rebuild): every micro-batch of (vec_id, e) rows is assigned and
appended via ``foreachBatch``, the deliberate integration point the
dedup stream (dedup_stream.py) and the relational merge stream
(jobs.merge_stream_into_table) already use.

Exactly-once: a failed-and-replayed micro-batch would append its
vectors twice — duplicate inverted-list entries would surface as
duplicate candidates (harmless for top-k correctness after the
distinct-free rerank? no: a duplicated cand_id would tie with itself
and could displace a genuine k-th result).  The wrapper therefore
anti-joins the batch against vec_ids already in the lists before
ingesting, so a replay is a no-op.  Unlike the dedup loop there is
no decisions ledger — ingest is the only effect — so the single
anti-join closes the whole crash surface: the bucketed append is the
last write of the trigger.

Scale: per-trigger cost ∝ micro-batch (one kernel pass over the new
vectors + one bucketed append); the anti-join probe scans only the
lists' vec_id column (parquet column pruning).  At corpus scale the
probe swaps for a bloom filter or a vec_id watermark — both
physical-only changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from bitcoin_datawarehouse_spark.operators.ivf_index import IvfIndex
from bitcoin_datawarehouse_spark.streaming.jobs import start_available_now


def run_ivf_ingest_stream(
    vec_stream: DataFrame,
    index: IvfIndex,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start a streaming ingest of ``vec_stream`` (schema: vec_id
    long, e array<double>) into ``index`` (which must be built).
    ``availableNow`` drains the source and stops — tests and
    backfills; a production deployment swaps the trigger for a
    processing-time interval."""

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        # resolve the lists table through the MICRO-BATCH session
        # (batch_df.sparkSession is a clone of the main session; the
        # catalog is shared, but a plan mixing frames from BOTH
        # sessions silently wrote nothing when the downstream
        # saveAsTable executed — single-session plans only)
        # in-batch dedup FIRST: a noisy source emitting the same
        # vec_id twice within one trigger would pass the anti-join
        # (neither copy is persisted yet) and append both — exactly
        # the duplicated-cand_id ranking corruption described above
        fresh = batch_df.select("vec_id", "e").dropDuplicates(["vec_id"])
        # refresh before the replay-guard read: if the trigger's
        # session clone carries a cached relation from an earlier
        # trigger, a stale `seen` would let a replayed vec_id through
        # (duplicate list entries — the ranking corruption above)
        batch_df.sparkSession.catalog.refreshTable(index.lists_name)
        seen = (
            batch_df.sparkSession.table(index.lists_name)
            .select("vec_id")
        )
        fresh = fresh.join(seen, "vec_id", "left_anti")
        if fresh.limit(1).count() > 0:
            index.ingest(fresh)

    return start_available_now(vec_stream, ingest, checkpoint_dir)
