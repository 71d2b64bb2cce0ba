"""Schema inference for row-JSON ingestion.

Reference parity (SURVEY.md §1.5): the reference infers a 5-type
physical schema per load from pandas dtypes
(``pg_loader.py:49-68 _infer_column_type``): integer→Integer,
float→Float, bool→Boolean, datetime→DateTime, fallback→String.

Here the same 5-type lattice maps onto Spark types
(Long/Double/Boolean/Timestamp/String) and inference runs over the
raw ``List[Dict]`` rows a source returns — explicitly, not via
``createDataFrame`` sampling, so a column that starts with nulls
still lands on a deterministic type and the behavior is identical
run-to-run (the reference's per-run schema pin, ``pg_loader.py:140-141``).
"""

from __future__ import annotations

import datetime as dt
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from bitcoin_datawarehouse_spark.functions.localframe import local_rows_df

#: the reference's fallback order, pg_loader.py:59-68
_LATTICE = ["boolean", "long", "double", "timestamp", "string"]


def _value_type(v: Any) -> str | None:
    if v is None:
        return None
    # bool is a subclass of int in Python — test it first, as the
    # reference's is_bool_dtype does before is_integer_dtype
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "long"
    if isinstance(v, float):
        return "double"
    if isinstance(v, (dt.datetime, dt.date)):
        return "timestamp"
    return "string"


def _merge(a: str | None, b: str | None) -> str | None:
    if a is None:
        return b
    if b is None or a == b:
        return a
    if {a, b} == {"long", "double"}:
        return "double"
    return "string"


_SPARK_TYPES = {
    "boolean": T.BooleanType(),
    "long": T.LongType(),
    "double": T.DoubleType(),
    "timestamp": T.TimestampType(),
    "string": T.StringType(),
}


def infer_schema(rows: list[dict[str, Any]]) -> T.StructType:
    """5-type schema over all rows (all-null column → String, the
    reference's fallback)."""
    seen: dict[str, str | None] = {}
    for r in rows:
        for k, v in r.items():
            seen[k] = _merge(seen.get(k), _value_type(v))
    return T.StructType(
        [
            T.StructField(k, _SPARK_TYPES[t or "string"], nullable=True)
            for k, t in seen.items()
        ]
    )


def rows_to_df(
    spark: SparkSession, rows: list[dict[str, Any]]
) -> DataFrame:
    """Materialize source rows as a typed DataFrame (reference
    ``dune_to_pg_worker.py:93 pd.DataFrame(data)``) with explicit
    schema — no sampling inference.  Built through Arrow
    (``local_rows_df``): a JVM LocalTableScan, no Python-worker task
    per batch; naive datetimes stay driver-local wall time."""
    schema = infer_schema(rows)
    coerced = []
    for r in rows:
        out = []
        for f in schema.fields:
            v = r.get(f.name)
            if v is not None:
                if isinstance(f.dataType, T.DoubleType) and isinstance(v, int):
                    v = float(v)
                elif isinstance(f.dataType, T.TimestampType) and (
                    isinstance(v, dt.date) and not isinstance(v, dt.datetime)
                ):
                    # bare dates infer as Timestamp (the reference's
                    # datetime64 bucket); a timestamp column rejects
                    # date values, so widen to midnight
                    v = dt.datetime(v.year, v.month, v.day)
                elif isinstance(f.dataType, T.StringType) and not isinstance(v, str):
                    v = str(v)
            out.append(v)
        coerced.append(out)
    return local_rows_df(spark, coerced, schema)
