"""Deterministic float aggregation helpers.

Summing doubles is order-dependent; Spark's partial (map-side) +
final aggregation visits rows in a different order than DuckDB's
(multi-threaded) scan, so ``SUM(double)`` can differ in the last few
ulps between engines and break the driver's value-hash comparison.

Fix: cast each row's value to ``DECIMAL(38,10)`` and sum exactly in
decimal — order-independent.  The per-row cast itself must agree
across engines: Spark casts via the double's shortest decimal repr,
DuckDB's direct cast via the binary value — they diverge for
|value| ≳ 1e8, so every oracle-side cast goes through
:func:`SQL_DEC`'s string route (see its docstring for the
hypothesis-found counterexample).  The
*exposed* column is NOT the decimal (decimal128 canonicalization —
trailing-zero scale / string repr — differs between engine/driver
hashers even when the values are numerically equal; this was the
single cause of the 13 persistent driver hash-fails in rounds 1-2).
Instead the final surface is an engine-neutral DOUBLE produced by a
fully deterministic chain:

    decimal sum  --ROUND(2, half-away-from-zero)-->  DECIMAL(p,2)
                 --CAST-->  DOUBLE

* The decimal round is exact integer arithmetic and both engines
  round ties away from zero (Spark ``round`` = HALF_UP; DuckDB
  decimal ``ROUND`` verified half-away-from-zero), so both produce
  the identical 2-dp decimal.
* DECIMAL(p,2) → DOUBLE is correctly rounded in both engines as long
  as the value in cents fits in 2^53 (~90 trillion dollars) — far
  beyond any fixture or realistic aggregate.

(Rounding the DOUBLE instead — ``ROUND(CAST(sum AS DOUBLE), 2)`` —
is NOT safe: Spark rounds the double's shortest decimal repr while
the exact sum can sit on a ``.XX50`` half-way boundary, which for
4/6-dp money products happens ~1% of the time.)

Averages: the quotient must round somewhere, and decimal-division
rounding rules differ between engines, so averages are exposed as
``ROUND(string_routed_double(dec_sum)/count, 6)`` — the decimal sum
converts to double through a string on BOTH engines (each parse is
correctly rounded from the identical decimal value), so the quotient
and its rounding are bit-identical.  A direct decimal→double cast is
1 ulp apart between engines, which hypothesis showed CAN flip the 6th
decimal on boundary quotients.

At 100 TB this costs one widening per row inside codegen — decimal
aggregation is still a JVM-side hash aggregate with map-side partial
combine; no extra shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(38,10)"


def dsum(col: Column, alias: str) -> Column:
    """Order-independent exact SUM, exposed as a 2-dp-rounded DOUBLE."""
    return F.round(F.sum(col.cast(DEC)), 2).cast("double").alias(alias)


def str_round6(col: Column) -> Column:
    """Engine-neutral ROUND(double, 6): string → DECIMAL(38,6) →
    string → double.

    Native ROUND(double, 6) ties differently across engines — Spark
    rounds the double's SHORTEST REPR half-up, DuckDB the BINARY
    value (hypothesis counterexample: -132.1888545 → -132.188855 vs
    -132.188854).  The string route makes both engines parse the
    identical shortest-repr digits, round them half-away-from-zero in
    exact decimal (verified tie-for-tie), and re-parse the identical
    fixed-scale decimal string into the identical double.  Pure
    per-row string work inside codegen — no shuffle impact.
    """
    return (
        col.cast("string")
        .cast("decimal(38,6)")
        .cast("string")
        .cast("double")
    )


def micro6(col: Column) -> Column:
    """Exact integer micro-units of an ALREADY 6-dp-rounded double.

    ``ROUND(x, 6)`` returns the double nearest to some k·10⁻⁶ (Spark
    rounds via BigDecimal and converts back with ``doubleValue`` =
    nearest double), and Spark's double→decimal cast goes through the
    shortest repr — which for such a double is exactly the k·10⁻⁶
    digits.  So ``CAST(col AS DECIMAL(38,10)) * 1e6`` is the exact
    integer k, and a weighted BIGINT sum ``Σ k_i·w_i`` equals
    ``CAST(Σ dec(col_i)·w_i * 1e6 AS BIGINT)`` — the established
    decimal-accumulation surface — while running in pure long
    arithmetic (measured ~2× the per-row aggregate throughput of the
    decimal sum on a 26M-row scoring join).  Only valid for columns
    produced by ``ROUND(·, 6)``.  Exactness needs ulp(col) < 10⁻⁶, i.e.
    |col| < 2³³ ≈ 8.59e9 per row: above it neighbouring k·10⁻⁶ share a
    double and k is lost (both sides of the boundary pinned by
    ``test_micro6_exact_below_2_pow_33``).  Overflow bound:
    Σ|k_i·w_i| ≤ 2⁶³ per group.  Both are far beyond any log-domain
    score."""
    return (col.cast(DEC) * F.lit(1_000_000)).cast("long")


def davg(col: Column, alias: str) -> Column:
    """Order-independent AVG (decimal sum / non-null count), exposed
    as an engine-neutral 6-dp double.

    Two string routes: the decimal sum converts to double through a
    string (direct decimal→double casts are 1 ulp apart between
    engines — hypothesis found sum 4158891393.83 / 6 flipping the 6th
    decimal), and the final 6-dp rounding is :func:`str_round6` (the
    native double ROUND ties differently across engines).
    """
    return str_round6(
        F.sum(col.cast(DEC)).cast("string").cast("double") / F.count(col)
    ).alias(alias)


def SQL_DEC(expr: str) -> str:
    """DuckDB-side mirror of Spark's ``CAST(double AS DECIMAL(38,10))``.

    The two engines' direct casts diverge for |value| ≳ 1e8: Spark
    converts via the double's SHORTEST DECIMAL REPR (BigDecimal.valueOf
    → setScale HALF_UP) while DuckDB multiplies the BINARY value by
    10^10 in double arithmetic, which keeps the representation junk at
    that scale (hypothesis-found counterexample: 1006857039.85 →
    Spark 1006857039.8500000000, DuckDB 1006857039.8499999744).
    Routing DuckDB through a string cast uses ITS shortest-repr
    printer, so both engines round the same decimal string — verified
    tie-for-tie (both half-away-from-zero) and property-tested to
    ±1e12.  ``STRING`` (not bare VARCHAR) because some oracle
    fragments also execute on Spark via spark.sql, which rejects an
    unsized VARCHAR; both engines accept STRING.
    """
    return f"CAST(CAST({expr} AS STRING) AS DECIMAL(38,10))"


def SQL_DSUM(expr: str, alias: str) -> str:
    """DuckDB-side mirror of :func:`dsum`."""
    return f"CAST(ROUND(SUM({SQL_DEC(expr)}), 2) AS DOUBLE) AS {alias}"


def SQL_STR_ROUND6(expr: str) -> str:
    """DuckDB-side mirror of :func:`str_round6`.

    Tiny-value guard: DuckDB's VARCHAR→DECIMAL parse of
    scientific-notation strings rounds on the first dropped mantissa
    digit without weighing the exponent, so e.g. '5.9e-08' →
    0.000001 instead of 0 (hypothesis-found at 2^-24).  Any
    |value| < 1e-7 rounds to 6 places as exactly 0 — emit that
    directly; at exponents ≥ -7 the digit-based parse coincides with
    correct rounding (probe-verified across the boundary).
    """
    route = (
        f"CAST(CAST(CAST(CAST({expr} AS STRING) AS DECIMAL(38,6))"
        f" AS STRING) AS DOUBLE)"
    )
    return f"CASE WHEN ABS({expr}) < 1e-7 THEN 0.0 ELSE {route} END"


def SQL_DAVG(expr: str, alias: str) -> str:
    """DuckDB-side mirror of :func:`davg` (string-routed decimal→double
    and string-routed 6-dp rounding — see davg's docstring)."""
    q = (
        f"CAST(CAST(SUM({SQL_DEC(expr)}) AS STRING) AS DOUBLE)"
        f" / COUNT({expr})"
    )
    return f"{SQL_STR_ROUND6(q)} AS {alias}"
