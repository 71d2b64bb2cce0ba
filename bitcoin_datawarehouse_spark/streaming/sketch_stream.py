"""Streaming ingest for the persisted HLL register table.

The arrival path of ``sketches.HllSketchTable``: a stream of
(group…, hkey) rows folds into the register state per trigger via
``foreachBatch`` — the integration point every stream in this repo
uses.  Per-trigger cost is one pass over the micro-batch (collapsing
to ≤ groups×m register rows BEFORE touching state) plus a
register-table-sized merge; serving reads never rescan history.

Exactly-once comes FREE here, unlike the LSH/IVF ingest loops:
register MERGE is MAX, which is idempotent, so a crash-replayed
trigger re-folds to the identical state — no replay guard, no
decisions backfill.  The one discipline that does apply is the
CLAUDE.md foreachBatch session rule: ``HllSketchTable.ingest`` builds
every frame (old state included, via ``Warehouse.read_with``) from
the micro-batch frame's own session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from bitcoin_datawarehouse_spark.operators.sketches import HllSketchTable
from bitcoin_datawarehouse_spark.streaming.jobs import start_available_now


def run_hll_sketch_stream(
    keyed_stream: DataFrame,
    table: HllSketchTable,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Fold ``keyed_stream`` (columns: ``table.group_cols`` + ``hkey``)
    into ``table`` per trigger.  ``availableNow`` so tests/backfills
    drain and stop; a long-lived crawl would use a processing-time
    trigger with the same body."""

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        # one reference, one subtree — no checkpoint needed; ingest
        # collapses the batch to register rows in its first aggregate
        table.ingest(batch_df.select(*table.group_cols, "hkey"))

    return start_available_now(keyed_stream, ingest, checkpoint_dir)
