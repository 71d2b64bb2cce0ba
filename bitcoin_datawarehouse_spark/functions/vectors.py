"""The numpy vector kernels behind every oracle-bound cosine.

Cross-engine parity contract: a cosine computed here must be bit-equal
to the JVM ``zip_with``/``aggregate`` fold (``similarity.dot_col`` /
``norm_col``) and to DuckDB's ``list_reduce``.  Both engines fold an
array left to right, so every dot and sum of squares here accumulates
DIMENSION BY DIMENSION.  A "faster" formulation (``a @ b.T``, einsum,
``(x * x).sum(axis=1)``) changes the summation order and silently
breaks the value hash of just the query that uses it.  This module is
the one owner of that loop order; ``tests/test_plans.py`` fails when a
vector reader or an outer-product fold appears anywhere else in the
package.

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

#: per-block cell cap for :func:`cosine_row_blocks` — a few hundred MB
#: of temporaries per concurrent task; at sf100 a SemDeDup cluster of
#: ~11k members is ~1 GB as one grid, several GB with its boolean and
#: temporary copies
BLOCK_CELLS = 1 << 23


def read_vectors(col) -> np.ndarray:
    """(rows × d) float64 matrix from a column (or any iterable) of
    equal-length arrays — the Arrow/pandas ``array<double>`` reader.
    Measured ~1.9× faster than ``np.stack``/``np.vstack`` at 500 and
    32 768 rows × 64 on a 4-core Xeon, with bit-equal values."""
    return np.array(list(col), dtype=np.float64)


def _dim_ordered_sq(mat) -> np.ndarray:
    sq = np.zeros(len(mat))
    for j in range(mat.shape[1]):
        sq += mat[:, j] * mat[:, j]
    return sq


def dim_ordered_norms(mat) -> np.ndarray:
    """Per-row L2 norms, bit-equal to ``norm_col``'s fold."""
    return np.sqrt(_dim_ordered_sq(mat))


def dim_ordered_dot(amat, bmat) -> np.ndarray:
    """(len(a) × len(b)) dot grid, accumulated dimension by dimension."""
    dot = np.zeros((len(amat), len(bmat)))
    for j in range(amat.shape[1]):
        dot += np.outer(amat[:, j], bmat[:, j])
    return dot


def dim_ordered_dot_sq(cmat, qmat):
    """(dot n×m, c_sq n, q_sq m): the dot grid plus both sides' sums of
    squares, each folded dimension by dimension.  The three
    accumulators are independent, so computing them in separate passes
    is value-identical to one fused pass."""
    return (
        dim_ordered_dot(cmat, qmat),
        _dim_ordered_sq(cmat),
        _dim_ordered_sq(qmat),
    )


def cosine_row_blocks(amat, a_nrm, bmat, b_nrm):
    """Yield ``(start, cos)`` over row blocks of the a×b cosine grid:
    ``cos[i, j]`` is the cosine of ``amat[start + i]`` and ``bmat[j]``,
    ``dot / (a_nrm · b_nrm)`` exactly as on the full grid.  Each block
    holds at most ``max(len(b), BLOCK_CELLS)`` cells."""
    step = max(1, BLOCK_CELLS // max(1, len(bmat)))
    for s in range(0, len(amat), step):
        blk = amat[s : s + step]
        nrm = np.outer(a_nrm[s : s + len(blk)], b_nrm)
        yield s, dim_ordered_dot(blk, bmat) / nrm
