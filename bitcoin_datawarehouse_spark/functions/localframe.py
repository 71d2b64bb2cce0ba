"""Driver-local row lists as Arrow-built LocalTableScan frames.

``spark.createDataFrame(rows, ddl)`` on a plain Python row list
parallelizes the rows across ``defaultParallelism`` Python slices.
Every later action on such a frame runs Python-worker tasks, and a
coalesced write (write_atomic's small-table discipline) executes ALL
parent slices sequentially in one task, paying one Python-worker
round trip per slice — measured 4.4 s per 1-ROW pointer write at
local[32] (vs 0.2 s warm through this path), i.e. the per-trigger
floor of every streaming fold was 32 sequential Python round trips
for one row.  The same tax hit every data batch a pipeline source
ingests.

:func:`local_rows_df` routes the rows through pandas so Arrow builds
a JVM ``LocalTableScan`` (up to ``defaultParallelism`` partitions,
one for a single row): no Python worker runs for it.  The schema —
a DDL string or a ``StructType`` — is applied unchanged.  A naive
``datetime`` in a ``timestamp`` column means driver-local wall time,
as on the plain path (Arrow alone would read it in the session time
zone).  A top-level float NaN, which Arrow would store as NULL, and
any conversion surprise (exotic nested values the pandas bridge
rejects) fall back to the plain path — correctness first, the speedup
is best-effort.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_rows_df(sess: SparkSession, rows, schema: str | T.StructType) -> DataFrame:
    """A DataFrame over driver-local ``rows`` (sequences in field order)
    with ``schema``, built through Arrow (see module docstring)."""
    try:
        import pandas as pd

        if not isinstance(schema, T.StructType):
            schema = sess.createDataFrame([], schema).schema
        ts = [isinstance(f.dataType, T.TimestampType) for f in schema.fields]
        pdf = pd.DataFrame(
            [_arrow_row(r, ts) for r in rows],
            columns=schema.fieldNames(),
            dtype=object,
        )
        return sess.createDataFrame(pdf, schema=schema)
    except Exception:  # noqa: BLE001 — perf path only, never correctness
        return sess.createDataFrame(rows, schema)


def _arrow_row(row, ts: list[bool]) -> tuple:
    """``row`` as the Arrow path must see it.  A naive datetime in a
    timestamp column is pinned to the driver's local zone
    (``astimezone`` honours ``fold`` in a DST overlap, so a value read
    back from Spark keeps its instant).  A float NaN raises: pandas'
    null mask would store it as NULL, so the plain path takes over."""
    out = []
    for v, is_ts in zip(row, ts, strict=True):
        if is_ts and isinstance(v, dt.datetime) and v.tzinfo is None:
            v = v.astimezone()
        elif isinstance(v, float) and v != v:
            raise ValueError("NaN needs the plain path")
        out.append(v)
    return tuple(out)
