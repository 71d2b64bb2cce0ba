"""Z-order (Morton) clustering key for multi-dimensional data skipping.

Parquet prunes row groups by min/max column statistics.  Sorting a
table by ONE column makes its stats tight but leaves every other
column's min/max spanning the whole domain — a predicate on a second
dimension prunes nothing.  Interleaving the bits of two (or more)
order-preserving bucket ids yields a sort key whose contiguous ranges
are small HYPER-RECTANGLES in the original space, so row-group min/max
stay tight on EVERY interleaved dimension at once and a 2-D range
predicate skips most of the file (measured at sf10: SCALING.md
"Round 6: z-order clustering").

All pure integer arithmetic — bucketing is an exact monotone rescale
``(v · 2^bits) // (max+1)``, the interleave is the classic
magic-number bit spread — so the key is deterministic, engine-neutral
(a DuckDB oracle computes the identical value with `<<`/`&`/`|`), and
runs inside whole-stage codegen.  The write path is just
``df.repartitionByRange(z).sortWithinPartitions(z).write`` — Spark's
range partitioner gives globally contiguous z-ranges per file.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: (shift, mask) stages spreading a 16-bit int so its bits occupy the
#: even positions of a 32-bit int (the standard Morton magic numbers)
_SPREAD16 = [
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
]


def spread_bits16(col: Column) -> Column:
    """Spread the low 16 bits of ``col`` into the even bit positions
    (b15..b0 → positions 30,28,…,0).  Input must be in [0, 2^16)."""
    x = col.cast("long")
    for shift, mask in _SPREAD16:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def bucketize(col: Column, max_plus_one: Column, bits: int = 16) -> Column:
    """Exact monotone rescale of a non-negative integer column into
    [0, 2^bits): ``(v << bits) // (max+1)``.

    Spark's ``/`` on longs is DOUBLE division, so this floors the
    double quotient — exact-equal to integer ``//`` (the DuckDB
    mirror) whenever the divisor is below 2^37: operands ≤ 2^47 are
    exactly representable, the quotient is correctly rounded, and a
    non-integer rational n/d can only round ONTO an integer k if
    1/d < ulp(k)/2 = k·2⁻⁵³ ≤ 2⁻³⁷ — i.e. never for key domains under
    ~137 billion (hypothesis-tested across the boundary in
    tests/test_zorder.py).  Power-of-two divisors are exact at any
    width.

    Inputs MUST be non-negative: on negatives the engines diverge
    HARD (DuckDB errors on left-shifting a negative; Spark floors to
    a negative bucket that spread_bits16's masks alias onto
    legitimate cells — e.g. -1 spreads identically to 65535).
    Callers derive day/offset dimensions from a runtime-adaptive MIN
    (storage_zorder_cells) or a caller-pinned domain with headroom
    (ZOrderedTable)."""
    return F.floor(
        F.shiftleft(col.cast("long"), bits)
        / max_plus_one.cast("long")
    ).cast("long")


def zorder2(a: Column, b: Column) -> Column:
    """Morton interleave of two 16-bit bucket ids: a's bits take the
    even positions, b's the odd — a 32-bit z-value as BIGINT."""
    return spread_bits16(a).bitwiseOR(F.shiftleft(spread_bits16(b), 1))


#: DuckDB-side mirror of :func:`spread_bits16` — same stages, SQL
#: operators (parenthesized: DuckDB's `&`/`|` precedence differs from
#: arithmetic)
def sql_spread16(expr: str) -> str:
    x = f"CAST({expr} AS BIGINT)"
    for shift, mask in _SPREAD16:
        x = f"(({x} | ({x} << {shift})) & {mask})"
    return x


def sql_zorder2(a: str, b: str) -> str:
    """DuckDB-side mirror of :func:`zorder2`."""
    return f"({sql_spread16(a)} | ({sql_spread16(b)} << 1))"


def sql_bucketize(expr: str, max_plus_one: str, bits: int = 16) -> str:
    """DuckDB-side mirror of :func:`bucketize` (exact integer ``//``;
    see bucketize's docstring for why the double-floor Spark side is
    bit-equal below divisor 2^37)."""
    return (
        f"CAST((CAST({expr} AS BIGINT) << {bits})"
        f" // CAST({max_plus_one} AS BIGINT) AS BIGINT)"
    )


def write_zordered(
    df: DataFrame,
    path: str,
    zcol: Column,
    num_files: int,
    **writer_options: str,
) -> None:
    """Write ``df`` clustered by a z-key: range-partition on the key
    (globally contiguous z-ranges per output file), sort within each
    partition (tight row-group stats inside files), drop the key.

    At 100 TB this is the standard one-extra-shuffle layout job: the
    range exchange samples the key, every downstream multi-dimension
    range scan pays it back on the first query (SCALING.md measures
    38× row-group pruning at sf10)."""
    (
        df.withColumn("_z", zcol)
        .repartitionByRange(num_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .options(**writer_options)
        .parquet(path)
    )
