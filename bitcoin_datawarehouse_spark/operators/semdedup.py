"""Semantic deduplication (SemDeDup-shaped, arXiv:2303.09540).

Exact-match, MinHash, and substring dedup catch copies; embedding
cosine dedup (embeddings_extra.py) catches paraphrases pair-by-pair.
SemDeDup is the corpus-scale policy on top: cluster the embedding
space with a coarse quantizer, then WITHIN each cluster drop every
member that has an above-threshold cosine neighbour closer to the
cluster centroid than itself — keeping, per duplicate neighbourhood,
the example farthest from the centroid (the paper's rule: boundary
examples are the informative ones; the near-centroid copies are the
redundant mass).

Why clustering is the point, not an optimization: the pair search is
confined to cluster members, so candidate work is Σ(cluster size)²
instead of N² — with K grown ∝ N (exactly how IVF_N_CENTROIDS scales
for the ANN family) cluster sizes stay bounded and the whole pass is
ONE shuffle (hash by centroid_id) plus task-local numpy.  No
reference counterpart (the reference outsources analytics entirely;
SURVEY §2.12 north-star family).

Engine-parity contract (same as every cosine kernel in the repo):
all dot/norm accumulation runs dimension-by-dimension through
``functions.vectors`` — bit-equal to the JVM ``zip_with`` fold and
DuckDB's ``list_reduce`` — so the keep/drop comparisons (pair cosine
vs τ, centroid-cosine orderings) decide identically in the kernel
and the SQL oracle.  The exposed ``cos_centroid`` goes through the
``str_round6`` / ``SQL_STR_ROUND6`` 6-dp surface; the comparisons
use full precision on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bitcoin_datawarehouse_spark.functions.numeric import (
    SQL_STR_ROUND6,
    str_round6,
)
from bitcoin_datawarehouse_spark.functions.vectors import (
    cosine_row_blocks,
    dim_ordered_dot_sq,
    read_vectors,
)
from bitcoin_datawarehouse_spark.operators.embeddings_extra import (
    _SQL_COS,
    _SQL_NORMED,
    COSINE_DUP_THRESHOLD,
    IVF_N_CENTROIDS,
    _nearest_centroid_kernel_impl,
    _normed,
    collect_codebook,
)

from bitcoin_datawarehouse_spark.registry import query
from bitcoin_datawarehouse_spark.functions.localframe import local_rows_df


def semdedup_flags(
    emb: DataFrame, cent: DataFrame, tau: float
) -> DataFrame:
    """(vec_id, centroid_id, cos_c, keep) for every vector in ``emb``.

    ``emb`` must be (vec_id, e, nrm) with e array<double>; ``cent``
    must be (centroid_id, ce, cn) — the same quantizer contract as
    the IVF family, so a trained ``kmeans_fit`` codebook drops in
    unchanged.

    Plan shape: one shuffle-free Arrow assignment pass (codebook in
    the closure, the vector rides through — the inverted-list trick
    from ``_nearest_centroid_kernel_impl``), then ONE hash shuffle by
    centroid_id into a per-cluster kernel that finishes everything
    task-locally: member×member cosine grid, member→centroid cosines,
    and the keep decision.  ``cos_c`` is full precision here; callers
    expose it through :func:`str_round6`.
    """
    ids, cmat, cn = collect_codebook(cent)
    assigned = _nearest_centroid_kernel_impl(
        emb, cent, keep_vec=True, codebook=(ids, cmat, cn)
    )
    return _cluster_flags(assigned, ids, cmat, cn, tau)


def _cluster_flags(
    assigned: DataFrame, ids, cmat, cn, tau: float
) -> DataFrame:
    """The per-cluster keep/drop kernel over an (vec_id, centroid_id,
    e) assignment frame — shared verbatim by the flat and two-level
    quantizer paths (``ids``/``cmat``/``cn`` is the collected FINE
    codebook; only the assignment stage differs between the paths)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("centroid_id", T.LongType()),
            T.StructField("cos_c", T.DoubleType()),
            T.StructField("keep", T.BooleanType()),
        ]
    )

    def cluster_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        cid = int(pdf["centroid_id"].iloc[0])
        ci = int(np.searchsorted(ids, cid))
        vids = pdf["vec_id"].to_numpy(dtype=np.int64)
        emat = read_vectors(pdf["e"])
        # member → own-centroid cosine; e_sq is the dim-ordered sum of
        # squares, so nrm is bit-equal to norm_col's fold
        cdot, e_sq, _ = dim_ordered_dot_sq(emat, cmat[ci : ci + 1, :])
        nrm = np.sqrt(e_sq)
        cos_c = cdot[:, 0] / (nrm * cn[ci])
        return pd.DataFrame(
            {
                "vec_id": vids,
                "centroid_id": np.full(len(vids), cid, dtype=np.int64),
                "cos_c": cos_c,
                "keep": _keep_farthest(emat, nrm, vids, cos_c, tau),
            }
        )

    return assigned.groupBy("centroid_id").applyInPandas(
        cluster_kernel, schema
    )


def _keep_farthest(emat, nrm, vids, cos_c, tau: float):
    """Keep flags for ONE cluster's members (rows of ``emat``): a
    member is dropped iff some other member with a cosine ≥ ``tau`` to
    it precedes it in the keep order.  j precedes i iff (cos_c,
    vec_id) is strictly smaller — the paper keeps the member FARTHEST
    from the centroid, ties to the smallest vec_id.  (cos_c, vec_id)
    is unique per member, so the lexsort rank encodes the whole
    precedence relation and the block test is one comparison.  The
    pair grid is evaluated in row blocks (``cosine_row_blocks``), so
    a cluster never materializes its m×m grid."""
    import numpy as np

    m = len(vids)
    rank = np.empty(m, dtype=np.int64)
    rank[np.lexsort((vids, cos_c))] = np.arange(m)
    keep = np.ones(m, dtype=bool)
    for s, pair in cosine_row_blocks(emat, nrm, emat, nrm):
        b = len(pair)
        rows = np.arange(s, s + b)
        dup = pair >= tau
        dup[np.arange(b), rows] = False  # self-pairs
        precede = rank[None, :] < rank[rows][:, None]
        keep[rows] = ~np.any(dup & precede, axis=1)
    return keep


def _semdedup_oracle(k_expr: str) -> str:
    """Oracle builder parametrized by the centroid-count expression —
    a literal for the fixed-K gate variant, a scalar subquery for the
    runtime auto-K rule (the ``AUTO_BITS_SQL`` pattern: the oracle
    follows the Spark side at ANY scale factor instead of pinning one
    fixture K)."""
    return f"""
    WITH {_SQL_NORMED},
    cent AS (SELECT * FROM n WHERE vec_id < ({k_expr})),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT x.vec_id, c.vec_id AS centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY {_SQL_COS.format(a="x", b="c")} DESC, c.vec_id
               ) AS rn
        FROM n x CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    m AS (
      SELECT a.vec_id, a.centroid_id,
             {_SQL_COS.format(a="x", b="c")} AS cos_c,
             x.e, x.nrm
      FROM assign a
      JOIN n x ON x.vec_id = a.vec_id
      JOIN cent c ON c.vec_id = a.centroid_id
    ),
    drops AS (
      SELECT DISTINCT i.vec_id
      FROM m i
      JOIN m j
        ON i.centroid_id = j.centroid_id
       AND i.vec_id <> j.vec_id
       AND (j.cos_c < i.cos_c
            OR (j.cos_c = i.cos_c AND j.vec_id < i.vec_id))
       AND {_SQL_COS.format(a="i", b="j")} >= {COSINE_DUP_THRESHOLD}
    )
    SELECT m.vec_id, m.centroid_id,
           {SQL_STR_ROUND6("m.cos_c")} AS cos_centroid,
           d.vec_id IS NULL AS keep
    FROM m LEFT JOIN drops d ON d.vec_id = m.vec_id
"""


def _semdedup_query(
    spark: SparkSession, sf_dir: str, k: int
) -> DataFrame:
    """Shared body of the fixed-K and auto-K registered variants:
    smallest-``k`` vec_ids as the codebook, flags, 6-dp surface."""
    emb = _normed(spark, sf_dir)
    cent = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    flags = semdedup_flags(emb, cent, COSINE_DUP_THRESHOLD)
    return flags.select(
        "vec_id",
        "centroid_id",
        str_round6(F.col("cos_c")).alias("cos_centroid"),
        "keep",
    )


@query(
    "dedup_semantic_semdedup",
    oracle=_semdedup_oracle(str(IVF_N_CENTROIDS)),
)
def dedup_semantic_semdedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SemDeDup semantic-duplicate pruning over the embeddings table:
    every vector with its cluster, its (6-dp) cosine to the cluster
    centroid, and the keep/drop decision under τ =
    ``COSINE_DUP_THRESHOLD`` (≈p99.9 of the fixture pair
    distribution; production paraphrase corpora use 0.9+).

    Quantizer here is the fixed smallest-vec_ids codebook (the
    hash-gateable stand-in shared with ``similarity_ivf_assign``); a
    trained ``kmeans_fit`` codebook drops in unchanged — the
    clustering quality changes, the operator does not.

    Scale: the oracle's intra-cluster self-join is O(Σ m_k²) —
    SemDeDup's designed cost — but the Spark plan never materializes
    pair rows: clusters land whole in one ``applyInPandas`` task each
    (bounded by N/K with K grown ∝ N, the IVF sizing rule) and the
    grid is task-local numpy.  One shuffle total.
    """
    return _semdedup_query(spark, sf_dir, IVF_N_CENTROIDS)


#: auto-K sizing: total cost = assignment N·K·d + intra-cluster pair
#: grids N²·d/K (N²/K cells, each a d-term dim-ordered accumulation —
#: the d multiplies BOTH terms and cancels); balancing gives
#: K* = √N, cluster sizes grow as √N, and neither term ever goes
#: quadratic.  An earlier revision balanced against N²/K (dropping
#: the grid's d) and registered K* = √(N/d) — under-sizing K by √d
#: left the grids d× heavier than assignment, MEASURED 24-31 s vs
#: 4.3-4.7 s at sf10 (K 56 vs 448) when the algebra was rechecked;
#: SCALING.md records the correction.  The floor is the
#: IVF-quantizer-shared 16; the ceiling keeps the driver-collected
#: codebook model-sized (65536×64 doubles = 32 MB, comfortably
#: broadcastable).  CEIL, not ROUND: CEIL is tie-free (√N = x.5
#: exactly would need N = x²+x+¼, not an integer), and
#: correctly-rounded IEEE sqrt makes both engines see the identical
#: double (exhaustive-range pytest).
SEMDEDUP_MIN_K = IVF_N_CENTROIDS
SEMDEDUP_MAX_K = 65536


def auto_semdedup_k(n_vectors: int) -> int:
    """K* = ceil(√N), clamped to [quantizer floor, codebook cap]."""
    import math

    if n_vectors <= 0:
        return SEMDEDUP_MIN_K
    k = math.ceil(math.sqrt(n_vectors))
    return max(SEMDEDUP_MIN_K, min(SEMDEDUP_MAX_K, k))


#: the rule as a self-contained SQL scalar (the AUTO_BITS_SQL
#: pattern) — the auto variant's oracle recomputes K from the corpus
#: it runs on, so the gate exercises the sizing rule itself at any
#: scale factor.
AUTO_K_SQL = (
    f"SELECT GREATEST({SEMDEDUP_MIN_K}, LEAST({SEMDEDUP_MAX_K}, "
    f"CAST(CEIL(SQRT(COUNT(*))) AS INT))) FROM embeddings"
)


# ---------------------------------------------------------------------------
# two-level (coarse→fine) quantizer — the production assignment path
# ---------------------------------------------------------------------------
#
# The flat quantizer's total work is N^1.5·d by construction
# (assignment N·K·d balanced against pair grids N²·d/K at K*=√N —
# measured ~24×/decade at sf100, SCALING.md).  The two-level path
# routes each vector through a COARSE codebook of Kc=√K centroids
# first, then argmaxes only within that coarse cell's fine centroids:
# assignment falls to N·(Kc + K/Kc)·d = 2·N·√K·d, and re-balancing
# against the grids (N²·d/K) gives K* = N^(2/3), Kc* = N^(1/3) —
# total work ~N^(4/3)·d (10^(4/3) ≈ 21.5×/decade asymptotic, with
# the measured sf10→sf100 slope well below the flat path's; see
# SCALING.md round 7).  The per-cluster keep/drop kernel and the
# keep-farthest rule are IDENTICAL — only the assignment stage (and
# therefore the clustering itself, as in any hierarchical/IVF
# quantizer) differs, and the SQL oracle mirrors the full two-level
# rule including both tie-breaks, so the hash gate checks the
# hierarchical routing itself cross-engine.
#
# Sizing is INTEGER-EXACT on both engines: k1 = min{k : k³ ≥ N} is
# computed as a float cbrt seed plus a ±1 integer fixup (the fixup
# absorbs any last-ulp cbrt divergence — libm differences cannot
# change the result), then K = clamp(k1², 16, 65536) and
# Kc = clamp(k1, 4, 256).  The clamps are aligned so Kc = √K exactly
# in all three regimes (floor 4²=16, cap 256²=65536).

SEMDEDUP_TWO_LEVEL_MIN_K1 = 4
SEMDEDUP_TWO_LEVEL_MAX_K1 = 256


def semdedup_k1(n_vectors: int) -> int:
    """min{k ≥ 1 : k³ ≥ N} — integer-exact cube-root ceiling (float
    seed + ±1 fixup; exhaustive-range pytest pins SQL ≡ python)."""
    import math

    if n_vectors <= 1:
        return 1
    seed = math.ceil(math.cbrt(n_vectors))
    if (seed - 1) ** 3 >= n_vectors:
        seed -= 1
    if seed**3 < n_vectors:
        seed += 1
    return seed


def two_level_sizes(n_vectors: int) -> tuple[int, int]:
    """(fine K, coarse Kc) for the two-level quantizer at corpus size
    ``n_vectors`` — K = clamp(k1², 16, 65536), Kc = clamp(k1, 4, 256),
    aligned so Kc = √K in every regime."""
    k1 = semdedup_k1(n_vectors)
    fine = max(16, min(65536, k1 * k1))
    coarse = max(
        SEMDEDUP_TWO_LEVEL_MIN_K1, min(SEMDEDUP_TWO_LEVEL_MAX_K1, k1)
    )
    return fine, coarse


def coarse_rank_base(n_vectors: int) -> int:
    """Starting RANK (0-based, in vec_id order) of the COARSE router
    codebook: the Kc vectors ranked ``[K, K+Kc)`` normally, ``[0, Kc)``
    when the corpus has no vectors beyond the fine codebook.

    Two deliberate choices, both measured:

    * DISJOINT from the fine codebook — with coarse ⊂ fine (the first
      revision), a vector's coarse pick c maximizes cos(x, ·) over
      the coarse set, and since c is also a FINE member of its own
      cell it usually stays the argmax there — so the Kc champion
      fines hoarded nearly everything (sf10 measured: top clusters
      all had centroid_id < Kc at ~1 300 members vs ~57 balanced; Σm²
      6× the balanced value, ~130× at sf100 — the pair grids, not the
      assignment, became the N² term and the 'fix' ran SLOWER than
      flat).  A disjoint router is the standard IVF shape (the coarse
      quantizer is its own codebook) and removes the champion bias.
    * Selected by RANK, not id VALUE — scaled fixtures (and real
      corpora) have sparse ids (gen_sf strides copies by powers of
      ten: sf10's ids jump 1999 → 10000), so a ``vec_id < K+Kc``
      window silently shrinks or empties the codebooks.  Rank
      selection is one TakeOrdered (smallest K+Kc ids) on the Spark
      side and a ROW_NUMBER CTE in the oracle.
    """
    fine, _ = two_level_sizes(n_vectors)
    return fine if n_vectors > fine else 0


#: the sizing rule as SQL (the AUTO_BITS_SQL pattern, integer-exact):
#: one scalar CTE computing (fine_k, coarse_k) from COUNT(*).
TWO_LEVEL_KK_SQL = f"""kk AS (
      SELECT fine_k, coarse_k,
             CASE WHEN cnt > fine_k THEN fine_k ELSE 0 END AS clo_rank
      FROM (
        SELECT GREATEST(16, LEAST(65536, k1 * k1)) AS fine_k,
               GREATEST({SEMDEDUP_TWO_LEVEL_MIN_K1},
                        LEAST({SEMDEDUP_TWO_LEVEL_MAX_K1}, k1)) AS coarse_k,
               cnt
        FROM (
          SELECT CASE WHEN cnt <= 1 THEN 1
                 ELSE seed
                      - CASE WHEN (seed-1)*(seed-1)*(seed-1) >= cnt
                             THEN 1 ELSE 0 END
                      + CASE WHEN seed*seed*seed < cnt
                             THEN 1 ELSE 0 END
                 END AS k1,
                 cnt
          FROM (
            SELECT CAST(CEIL(CBRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)
                     AS seed,
                   COUNT(*) AS cnt
            FROM embeddings
          )
        )
      )
    )"""


def _fine_to_coarse(cent: DataFrame, coarse: DataFrame, codebooks=None):
    """Driver-side routing model (K×Kc·d on collected codebooks —
    a model, not data): (ids, cmat, cn, occupied coarse column
    indices, occ coarse matrices, cell→fine-row-indices map).  Each
    fine centroid goes to its nearest coarse centroid (cosine, tie →
    smallest coarse id); unoccupied coarse cells (possible only under
    exact-twin ties among fines) are excluded from vector routing on
    both engines, so every vector lands in a non-empty cell."""
    import numpy as np

    # ``codebooks``: pre-collected ((ids, cmat, cn), (cids, ccmat,
    # ccn)) — the auto query's head TakeOrdered already shipped the
    # vectors, so the two per-frame collect jobs are skipped (r12)
    if codebooks is not None:
        (ids, cmat, cn), (cids, ccmat, ccn) = codebooks
    else:
        ids, cmat, cn = collect_codebook(cent)
        cids, ccmat, ccn = collect_codebook(coarse)
    fdot, _, _ = dim_ordered_dot_sq(cmat, ccmat)
    fcos = fdot / np.outer(cn, ccn)
    fbest = np.argmax(fcos, axis=1)  # first max → smallest coarse id
    occupied = np.unique(fbest)  # ascending coarse column indices
    cell_fines = {
        int(ci): np.where(fbest == ci)[0] for ci in occupied
    }  # fine row indices, id-ascending
    return ids, cmat, cn, occupied, ccmat[occupied], ccn[occupied], cell_fines


def _route_cells(e, occupied, occ_cc, occ_ccn):
    """The occupied coarse cell of each vector in the column ``e``:
    nearest by cosine, first max → smallest OCCUPIED coarse id (the
    columns of ``occ_cc`` ascend) — the routing stage both two-level
    variants share, so their cells agree row for row."""
    import numpy as np

    emat = read_vectors(e)
    xdot, x_sq, _ = dim_ordered_dot_sq(emat, occ_cc)
    xcos = xdot / np.outer(np.sqrt(x_sq), occ_ccn)
    return occupied[np.argmax(xcos, axis=1)]


def semdedup_flags_two_level_split(
    emb: DataFrame,
    cent: DataFrame,
    coarse: DataFrame,
    tau: float,
    codebooks=None,
) -> DataFrame:
    """The CAP-REGIME variant of :func:`semdedup_flags_two_level`:
    fine assignment and the keep/drop decision run in SEPARATE
    stages — route (kernel) → SALTED shuffle by coarse cell →
    fine-assign kernel emitting (vec_id, centroid_id, e) → shuffle by
    FINE centroid → the shared ``_cluster_flags`` decision kernel.

    Three exchanges instead of two, but no task ever holds a whole
    coarse CELL: once Kc hits its 256 clamp a cell is N/256 rows
    (≈40 M rows × d doubles at N = 10¹⁰ — beyond task memory).  Fine
    assignment is row-parallel (each row only needs its cell's fine
    sub-codebook, which rides the closure), so the cell grouping is
    SALTED to cluster parallelism; the decision tasks are then
    fine-CLUSTER-sized (N/K ≤ N/65536).  Bit-identical output to the
    fused path by construction (same routing, same grids, same
    tie-breaks — pytest-pinned), so the choice is purely physical;
    the fused path stays the default below the cap (one fewer
    exchange, and its cell tasks are fine there).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    ids, cmat, cn, occupied, occ_cc, occ_ccn, cell_fines = _fine_to_coarse(
        cent, coarse, codebooks=codebooks
    )
    spark = emb.sparkSession
    par = spark.sparkContext.defaultParallelism

    route_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cell_id", T.LongType()),
            T.StructField("salt", T.IntegerType()),
            T.StructField("e", T.ArrayType(T.DoubleType())),
        ]
    )

    def route(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": vids,
                    "cell_id": _route_cells(
                        pdf["e"], occupied, occ_cc, occ_ccn
                    ),
                    "salt": (vids % par).astype(np.int32),
                    "e": pdf["e"],
                }
            )

    fa_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("centroid_id", T.LongType()),
            T.StructField("e", T.ArrayType(T.DoubleType())),
        ]
    )

    def fine_assign(pdf: pd.DataFrame) -> pd.DataFrame:
        fidx = cell_fines[int(pdf["cell_id"].iloc[0])]
        emat = read_vectors(pdf["e"])
        fdot, e_sq, _ = dim_ordered_dot_sq(emat, cmat[fidx])
        fcos = fdot / np.outer(np.sqrt(e_sq), cn[fidx])
        fa = np.argmax(fcos, axis=1)  # first max → smallest fine id
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                "centroid_id": ids[fidx[fa]],
                "e": pdf["e"],
            }
        )

    assigned = (
        emb.select("vec_id", "e")
        .repartition(par)
        .mapInPandas(route, route_schema)
        .groupBy("cell_id", "salt")
        .applyInPandas(fine_assign, fa_schema)
    )
    return _cluster_flags(assigned, ids, cmat, cn, tau)


def semdedup_flags_two_level(
    emb: DataFrame,
    cent: DataFrame,
    coarse: DataFrame,
    tau: float,
    codebooks=None,
) -> DataFrame:
    """:func:`semdedup_flags` with the hierarchical assignment stage —
    the same (vec_id, centroid_id, cos_c, keep) surface and the same
    keep-farthest rule; ``coarse`` must use the (centroid_id, ce, cn)
    codebook contract like ``cent``.

    Plan shape — still exactly TWO exchanges, but the ONE hash
    shuffle is by COARSE CELL, not fine centroid: the first kernel
    only routes each vector to its occupied coarse cell (one
    vectorized Kc·d pass, no per-cell loops), and the per-cell kernel
    finishes everything task-locally — the within-cell fine argmax as
    ONE (cell rows × cell fines) dim-ordered grid, then the identical
    keep/drop decision per fine cluster (fine clusters are subsets of
    their coarse cell by construction, so cell grouping keeps every
    cluster intact).  The first revision shuffled by fine centroid:
    at sf100 that meant 15 876 pandas groups of ~126 rows each and
    per-batch per-cell python loops — measured 166-198 s, WORSE than
    flat (overhead-bound, not compute-bound).  Cell grouping cuts the
    group count to ≤ Kc (126) and turns the fine stage into one large
    matrix op per task (measured rewrite in SCALING.md round 7).

    Cap-regime caveat: once Kc hits its 256 clamp, cells hold N/256
    rows — for corpora where that exceeds task memory, the split
    variant separates the fine stage from the decision stage (assign
    in row-parallel sub-groups, then shuffle by fine centroid — 3
    exchanges, every task fine-cluster-sized).  Since round 8 the
    registered auto query SELECTS between the two automatically via
    :func:`use_split_variant`'s cell-size estimate.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    ids, cmat, cn, occupied, occ_cc, occ_ccn, cell_fines = _fine_to_coarse(
        cent, coarse, codebooks=codebooks
    )

    route_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cell_id", T.LongType()),
            T.StructField("e", T.ArrayType(T.DoubleType())),
        ]
    )

    def route(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "cell_id": _route_cells(
                        pdf["e"], occupied, occ_cc, occ_ccn
                    ),
                    "e": pdf["e"],
                }
            )

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("centroid_id", T.LongType()),
            T.StructField("cos_c", T.DoubleType()),
            T.StructField("keep", T.BooleanType()),
        ]
    )

    def cell_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ci = int(pdf["cell_id"].iloc[0])
        fidx = cell_fines[ci]
        vids = pdf["vec_id"].to_numpy(dtype=np.int64)
        emat = read_vectors(pdf["e"])
        # fine assignment: ONE (rows × cell fines) dim-ordered grid
        fdot, e_sq, _ = dim_ordered_dot_sq(emat, cmat[fidx])
        nrm = np.sqrt(e_sq)
        fcos = fdot / np.outer(nrm, cn[fidx])
        fa = np.argmax(fcos, axis=1)  # first max → smallest fine id
        # member → own-centroid cosine, straight from the grid column
        cos_c = fcos[np.arange(len(vids)), fa]
        out_v, out_c, out_cosc, out_keep = [], [], [], []
        for fj in np.unique(fa):
            rows = np.where(fa == fj)[0]
            out_v.append(vids[rows])
            out_c.append(np.full(len(rows), ids[fidx[fj]], dtype=np.int64))
            out_cosc.append(cos_c[rows])
            out_keep.append(
                _keep_farthest(
                    emat[rows], nrm[rows], vids[rows], cos_c[rows], tau
                )
            )
        return pd.DataFrame(
            {
                "vec_id": np.concatenate(out_v),
                "centroid_id": np.concatenate(out_c),
                "cos_c": np.concatenate(out_cosc),
                "keep": np.concatenate(out_keep),
            }
        )

    spark = emb.sparkSession
    par = spark.sparkContext.defaultParallelism
    routed = (
        emb.select("vec_id", "e")
        .repartition(par)
        .mapInPandas(route, route_schema)
    )
    return routed.groupBy("cell_id").applyInPandas(cell_kernel, out_schema)


def _two_level_oracle() -> str:
    """The auto query's oracle: the full two-level rule in SQL —
    integer-exact sizing scalars, fine→coarse routing, occupied-cell
    restriction, within-cell fine argmax, then the identical
    keep-farthest decision as the flat oracle."""
    cos_fc = _SQL_COS.format(a="f", b="c")
    cos_xc = _SQL_COS.format(a="x", b="c")
    cos_xf = _SQL_COS.format(a="x", b="f")
    return f"""
    WITH {_SQL_NORMED},
    {TWO_LEVEL_KK_SQL},
    ranked AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS rk
      FROM embeddings
    ),
    cent AS (
      SELECT n.* FROM n JOIN ranked r ON r.vec_id = n.vec_id, kk
      WHERE r.rk < kk.fine_k
    ),
    coarse AS (
      SELECT n.* FROM n JOIN ranked r ON r.vec_id = n.vec_id, kk
      WHERE r.rk >= kk.clo_rank AND r.rk < kk.clo_rank + kk.coarse_k
    ),
    f2c AS (
      SELECT f_id, coarse_id FROM (
        SELECT f.vec_id AS f_id, c.vec_id AS coarse_id,
               ROW_NUMBER() OVER (
                 PARTITION BY f.vec_id
                 ORDER BY {cos_fc} DESC, c.vec_id
               ) AS rn
        FROM cent f CROSS JOIN coarse c
      ) WHERE rn = 1
    ),
    occ AS (
      SELECT c.* FROM coarse c
      WHERE c.vec_id IN (SELECT coarse_id FROM f2c)
    ),
    x2c AS (
      SELECT vec_id, coarse_id FROM (
        SELECT x.vec_id, c.vec_id AS coarse_id,
               ROW_NUMBER() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY {cos_xc} DESC, c.vec_id
               ) AS rn
        FROM n x CROSS JOIN occ c
      ) WHERE rn = 1
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT x.vec_id, f.vec_id AS centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY {cos_xf} DESC, f.vec_id
               ) AS rn
        FROM x2c xc
        JOIN n x ON x.vec_id = xc.vec_id
        JOIN f2c ON f2c.coarse_id = xc.coarse_id
        JOIN n f ON f.vec_id = f2c.f_id
      ) WHERE rn = 1
    ),
    m AS (
      SELECT a.vec_id, a.centroid_id,
             {_SQL_COS.format(a="x", b="c")} AS cos_c,
             x.e, x.nrm
      FROM assign a
      JOIN n x ON x.vec_id = a.vec_id
      JOIN n c ON c.vec_id = a.centroid_id
    ),
    drops AS (
      SELECT DISTINCT i.vec_id
      FROM m i
      JOIN m j
        ON i.centroid_id = j.centroid_id
       AND i.vec_id <> j.vec_id
       AND (j.cos_c < i.cos_c
            OR (j.cos_c = i.cos_c AND j.vec_id < i.vec_id))
       AND {_SQL_COS.format(a="i", b="j")} >= {COSINE_DUP_THRESHOLD}
    )
    SELECT m.vec_id, m.centroid_id,
           {SQL_STR_ROUND6("m.cos_c")} AS cos_centroid,
           d.vec_id IS NULL AS keep
    FROM m LEFT JOIN drops d ON d.vec_id = m.vec_id
"""


#: fused-path per-task budget, in FLOAT64 SLOTS of one coarse cell's
#: member matrix (est. cell rows × dim): the fused cell kernel holds a
#: whole coarse cell per applyInPandas task — the emat plus the Arrow
#: batch behind it — so the estimated cell must stay a few hundred MB.
#: 2^25 slots = 256 MB of float64; with the fixture's d = 64 that is
#: ~524k rows per cell, i.e. the switch fires only in the deep
#: Kc-clamp regime (Kc = 256 ⇒ cells = N/256 ⇒ N ≳ 134M vectors),
#: exactly where semdedup_flags_two_level's documented memory hazard
#: lives.  Below it the fused path stays default (one fewer exchange).
SEMDEDUP_FUSED_MAX_CELL_FLOATS = 1 << 25


def use_split_variant(
    n_vectors: int,
    dim: int,
    max_cell_floats: int = SEMDEDUP_FUSED_MAX_CELL_FLOATS,
) -> bool:
    """Physical-plan selector for the two-level pass (r7 VERDICT item
    1): True → route through the 3-exchange
    :func:`semdedup_flags_two_level_split` (no task ever holds a whole
    coarse cell), False → the fused 2-exchange default.  The estimate
    is the MEAN cell (⌈N/Kc⌉ rows × dim float64 slots) — a skewed hot
    cell can exceed it, but the clamp regime the budget targets is
    exactly where cells are uniformly huge; both paths are bit-equal
    (pytest-pinned), so a borderline call costs one exchange, never
    correctness."""
    _, coarse_k = two_level_sizes(n_vectors)
    est_cell_rows = -(-n_vectors // coarse_k)  # ceil
    return est_cell_rows * dim > max_cell_floats


def _semdedup_two_level_query(
    spark: SparkSession,
    sf_dir: str,
    fine_k: int,
    clo_rank: int,
    coarse_k: int,
    split: bool = False,
) -> DataFrame:
    """Two-level run at explicit fine size + coarse-router rank base
    — shared by the registered auto variant and the fixed-size tests.

    Codebook selection is by RANK in vec_id order (sparse-id-safe,
    see :func:`coarse_rank_base`): ONE TakeOrdered collects the
    smallest ``clo_rank + coarse_k`` ids (driver-sized — bounded by
    K+Kc ≤ 65 792 at the caps) and the centroid frames become plain
    value-range filters against its boundaries.
    """
    emb = _normed(spark, sf_dir)
    import numpy as np

    need = max(fine_k, clo_rank + coarse_k)
    # the head TakeOrdered ships the VECTORS along with the ids (r12):
    # both codebooks are rank-slices of these rows, so collecting
    # (e, nrm) here replaces the two per-frame collect_codebook jobs
    # the flags path used to run — three driver jobs become one.
    # Driver-bounded by the same K+Kc cap as before (≤ 65 792 rows ≈
    # 34 MB at dim 64).
    head_rows = (
        emb.select("vec_id", "e", "nrm")
        .orderBy("vec_id")
        .limit(need)
        .collect()
    )
    head = [r["vec_id"] for r in head_rows]
    # numpy construction mirrors collect_codebook exactly (dtype and
    # id-ascending order are part of the tie-break contract)
    h_ids = np.array(head, dtype=np.int64)
    h_mat = np.array([list(r["e"]) for r in head_rows], dtype=np.float64)
    h_cn = np.array([float(r["nrm"]) for r in head_rows], dtype=np.float64)
    fine_cut = min(fine_k, len(head))
    fine_hi = head[fine_cut - 1]
    cidx = head[clo_rank : clo_rank + coarse_k]
    fine_cb = (h_ids[:fine_cut], h_mat[:fine_cut], h_cn[:fine_cut])
    coarse_cb = (
        h_ids[clo_rank : clo_rank + coarse_k],
        h_mat[clo_rank : clo_rank + coarse_k],
        h_cn[clo_rank : clo_rank + coarse_k],
    )
    cent = emb.filter(F.col("vec_id") <= fine_hi).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    coarse = emb.filter(
        (F.col("vec_id") >= cidx[0]) & (F.col("vec_id") <= cidx[-1])
    ).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    flags_fn = (
        semdedup_flags_two_level_split if split else semdedup_flags_two_level
    )
    flags = flags_fn(
        emb,
        cent,
        coarse,
        COSINE_DUP_THRESHOLD,
        codebooks=(fine_cb, coarse_cb),
    )
    return flags.select(
        "vec_id",
        "centroid_id",
        str_round6(F.col("cos_c")).alias("cos_centroid"),
        "keep",
    )


@query("dedup_semantic_semdedup_auto", oracle=_two_level_oracle())
def dedup_semantic_semdedup_auto(
    spark: SparkSession,
    sf_dir: str,
    n_vectors: int | None = None,
    max_cell_floats: int = SEMDEDUP_FUSED_MAX_CELL_FLOATS,
) -> DataFrame:
    """The PRODUCTION default of the SemDeDup pass, round-7 rewrite:
    TWO-LEVEL (coarse→fine) cluster assignment with both sizes chosen
    AT RUNTIME from the corpus (one count() probe, or a caller hint)
    by the integer-exact rule k1 = min{k : k³ ≥ N}, K = k1²,
    Kc = k1 — the re-balanced optimum once assignment costs
    N·(Kc + K/Kc)·d instead of the flat N·K·d (module comment above;
    measured decade pair in SCALING.md round 7).

    The oracle recomputes the sizing AND the full hierarchical
    routing in SQL (:func:`_two_level_oracle`), so the hash gate
    proves the two-level rule itself — sizing fixup, fine→coarse
    tie-breaks, occupied-cell restriction, within-cell argmax —
    cross-engine at any scale factor.  The flat fixed-K variant
    (``dedup_semantic_semdedup``) stays registered as the audit twin
    sharing the identical keep/drop kernel.

    Physical-plan selection (round 8): the estimated coarse-cell size
    (⌈N/Kc⌉ rows × dim) is checked against the fused kernel's task
    budget (:data:`SEMDEDUP_FUSED_MAX_CELL_FLOATS`) and the pass
    routes through the 3-exchange
    :func:`semdedup_flags_two_level_split` once cells outgrow it —
    the Kc = 256 clamp regime where a fused task would hold N/256
    rows.  Both paths are bit-equal (pytest-pinned), so the oracle
    and the hash gate are unchanged by the switch.
    """
    # ONE probe job for both runtime constants (count + dim) instead
    # of two, and an explicit empty-corpus surface: zero vectors →
    # zero flag rows (matching the oracle), never a head[-1] IndexError
    st = (
        _normed(spark, sf_dir)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first(F.size("e")).alias("d"),
        )
        .first()
    )
    if n_vectors is None:
        n_vectors = st["n"]
    if n_vectors == 0:
        return local_rows_df(spark, 
            [],
            "vec_id long, centroid_id long,"
            " cos_centroid double, keep boolean",
        )
    dim = int(st["d"])
    fine_k, coarse_k = two_level_sizes(n_vectors)
    return _semdedup_two_level_query(
        spark,
        sf_dir,
        fine_k,
        coarse_rank_base(n_vectors),
        coarse_k,
        split=use_split_variant(n_vectors, dim, max_cell_floats),
    )
