"""The one owner of cosine, in all three engines.

Cosine contract: ``cos(a, b) = dot(a, b) / (|a| · |b|)``, where the
dot and both sums of squares accumulate left to right over the
dimensions, and **the cosine is 0.0 when either norm is 0**.  Each
engine computes it here and nowhere else:

* numpy (Arrow kernels): :func:`cosine_grid` and
  :func:`cosine_row_blocks`;
* the JVM: :func:`dot_col`, :func:`norm_col` and :func:`cosine_col`;
* the DuckDB oracles: :data:`SQL_NORMED` / :func:`sql_normed` and
  :data:`SQL_COS`.

The engines agree bit for bit.  Spark's ``aggregate`` and DuckDB's
``list_reduce`` fold an array left to right, so every numpy dot and
sum of squares here accumulates DIMENSION BY DIMENSION.  A "faster"
formulation (``a @ b.T``, einsum, ``(x * x).sum(axis=1)``) changes
the summation order and silently breaks the value hash of just the
query that uses it.

A zero vector has no direction, and left alone the engines disagree
on it: Spark (ANSI mode) raises ``DIVIDE_BY_ZERO``, numpy gives NaN
and DuckDB gives NULL, and each ranks its answer differently.  With
the declared 0.0 a zero vector is never a duplicate at a positive
threshold and, having the same cosine to every centroid, goes to the
smallest centroid id under every argmax.  The division is guarded
only where the denominator is 0, so every other cosine keeps the bits
of the plain division.

``tests/test_plans.py`` fails when a vector reader, a dim-ordered fold
or a cosine/norm copy appears anywhere else in the package.

Pair grids are evaluated in ROW BLOCKS of about :data:`BLOCK_CELLS`
cells (:func:`cosine_row_blocks`), so no kernel materializes an
unbounded n×m grid: a 100k-row LSH bucket is 80 GB as one grid but
~64 MB per block.  Blocking changes no value — each cell's dot still
accumulates over the dimensions in order — and the blocks arrive in
row order, so a row-major scan of the blocks visits cells in the same
order as a scan of the full grid.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

#: per-block cell cap for :func:`cosine_row_blocks` — a few hundred MB
#: of temporaries per concurrent task; at sf100 a SemDeDup cluster of
#: ~11k members is ~1 GB as one grid, several GB with its boolean and
#: temporary copies
BLOCK_CELLS = 1 << 23


# -- numpy ------------------------------------------------------------------


def read_vectors(col) -> np.ndarray:
    """(rows × d) float64 matrix from a column (or any iterable) of
    equal-length arrays — the Arrow/pandas ``array<double>`` reader.
    Measured ~1.9× faster than ``np.stack``/``np.vstack`` at 500 and
    32 768 rows × 64 on a 4-core Xeon, with bit-equal values."""
    return np.array(list(col), dtype=np.float64)


def dim_ordered_norms(mat) -> np.ndarray:
    """Per-row L2 norms, bit-equal to :func:`norm_col`'s fold."""
    sq = np.zeros(len(mat))
    for j in range(mat.shape[1]):
        sq += mat[:, j] * mat[:, j]
    return np.sqrt(sq)


def dim_ordered_dot(amat, bmat) -> np.ndarray:
    """(len(a) × len(b)) dot grid, accumulated dimension by dimension."""
    dot = np.zeros((len(amat), len(bmat)))
    for j in range(amat.shape[1]):
        dot += np.outer(amat[:, j], bmat[:, j])
    return dot


def _cosine(dot, a_nrm, b_nrm) -> np.ndarray:
    den = np.outer(a_nrm, b_nrm)
    return np.divide(dot, den, out=np.zeros_like(den), where=den != 0)


def cosine_grid(amat, bmat, b_nrm=None):
    """``(cos, a_nrm)``: the (len(a) × len(b)) cosine grid and the
    norms of ``amat``'s rows.  ``b_nrm`` may pass ``bmat``'s norms
    when the caller already holds them from this contract (a codebook's
    ``norm_col`` column); they are computed here otherwise.  For grids
    that can grow with the data (pair grids, hot buckets) use
    :func:`cosine_row_blocks`."""
    a_nrm = dim_ordered_norms(amat)
    if b_nrm is None:
        b_nrm = dim_ordered_norms(bmat)
    return _cosine(dim_ordered_dot(amat, bmat), a_nrm, b_nrm), a_nrm


def cosine_row_blocks(amat, a_nrm, bmat, b_nrm):
    """Yield ``(start, cos)`` over row blocks of the a×b cosine grid:
    ``cos[i, j]`` is the cosine of ``amat[start + i]`` and ``bmat[j]``,
    exactly as on the full grid.  Each block holds at most
    ``max(len(b), BLOCK_CELLS)`` cells."""
    step = max(1, BLOCK_CELLS // max(1, len(bmat)))
    for s in range(0, len(amat), step):
        blk = amat[s : s + step]
        yield s, _cosine(
            dim_ordered_dot(blk, bmat), a_nrm[s : s + len(blk)], b_nrm
        )


# -- JVM --------------------------------------------------------------------


def _fold_sum(arr: Column) -> Column:
    """Left-to-right double fold — deterministic op sequence, mirrored
    by DuckDB's list_reduce."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot_col(a: Column, b: Column) -> Column:
    """Deterministic dot product of two double arrays."""
    return _fold_sum(F.zip_with(a, b, lambda x, y: x * y))


def norm_col(a: Column) -> Column:
    """L2 norm of a double array, bit-equal to
    :func:`dim_ordered_norms`."""
    return F.sqrt(_fold_sum(F.transform(a, lambda x: x * x)))


def cosine_col(a: Column, a_nrm: Column, b: Column, b_nrm: Column) -> Column:
    """Cosine of two double arrays given their :func:`norm_col` norms.
    ANSI mode evaluates only the branch taken, so a zero norm gives
    0.0 instead of ``DIVIDE_BY_ZERO``."""
    den = a_nrm * b_nrm
    return F.when(den == 0, F.lit(0.0)).otherwise(dot_col(a, b) / den)


# -- DuckDB oracle SQL ------------------------------------------------------


def sql_normed(name: str, src: str) -> str:
    """The CTE ``name``: every row of ``src`` (a relation with a
    ``DOUBLE[]`` column ``e``) plus its norm ``nrm``, folded as
    :func:`norm_col` folds."""
    return (
        f"{name} AS (SELECT *, sqrt(list_reduce(list_transform("
        f"e, x -> x * x), (acc, x) -> acc + x)) AS nrm FROM {src})"
    )


#: the CTEs every embedding oracle starts from: ``n`` is
#: (vec_id, e, nrm) over the ``embeddings`` table
SQL_NORMED = f"""
  v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
  {sql_normed("n", "v")}
"""

#: cosine of the rows aliased ``{a}`` and ``{b}`` (each with ``e`` and
#: ``nrm``); the CASE states the zero-norm contract rather than leaning
#: on DuckDB's NULL for a division by zero
SQL_COS = (
    "CASE WHEN {a}.nrm * {b}.nrm = 0 THEN 0.0"
    " ELSE list_reduce(list_transform(list_zip({a}.e, {b}.e),"
    " p -> p[1] * p[2]), (acc, x) -> acc + x) / ({a}.nrm * {b}.nrm) END"
)
