"""Streaming maintenance for a materialized aggregate view.

The arrival path of ``pipeline.matview``: an append-only stream of
fact rows folds into the persisted GROUP-BY state per trigger via
``foreachBatch``.  Unlike the HLL register fold (MAX — replay-free),
sum/count absorption is not idempotent, so
:class:`~bitcoin_datawarehouse_spark.pipeline.matview.StreamingMatView`
makes each trigger exactly-once by flipping a generation pointer that
carries the batch_id — the replay guard and the state swap are one
atomic rename (see its docstring for the crash-window argument).

Per-trigger cost is one micro-batch aggregate plus a state-sized key
join; serving reads resolve the pointer and never rescan history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from bitcoin_datawarehouse_spark.pipeline.matview import StreamingMatView
from bitcoin_datawarehouse_spark.streaming.jobs import start_available_now


def run_matview_stream(
    fact_stream: DataFrame,
    view: StreamingMatView,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Fold ``fact_stream`` into ``view`` per trigger.  ``availableNow``
    so tests/backfills drain and stop; a long-lived feed would use a
    processing-time trigger with the same body."""

    def absorb(batch_df: DataFrame, batch_id: int) -> None:
        # one reference, one subtree (the delta aggregate) — no
        # checkpoint needed; state reads go through the batch session
        view.absorb(batch_df, batch_id)

    return start_available_now(fact_stream, absorb, checkpoint_dir)


def run_delta_matview_stream(
    fact_stream: DataFrame,
    view,
    checkpoint_dir: str,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Fold ``fact_stream`` into a
    :class:`~bitcoin_datawarehouse_spark.pipeline.matview.DeltaStreamingMatView`
    per trigger — the big-state arrival path: each trigger writes one
    batch-group-sized delta (the base is never rewritten in-trigger),
    and ``compact_every`` bounds the read-side fold depth by folding
    the delta log into a new base generation every N pending deltas.
    Compaction inside ``foreachBatch`` is safe — the stream is the
    single writer, and the fold commits through the same atomic
    pointer flip as the absorb."""

    def absorb(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        view.absorb(batch_df, batch_id)
        if compact_every and view.pending_deltas(sess) >= compact_every:
            view.compact(sess)

    return start_available_now(fact_stream, absorb, checkpoint_dir)
