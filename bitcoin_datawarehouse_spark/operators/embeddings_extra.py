"""Embedding-based dedup + IVF similarity (SURVEY.md §2.12).

Completes the near-dup operator family with the embedding-cosine
variant, and adds the IVF (inverted-file) ANN path — the standard
coarse-quantizer design: assign every vector to its nearest centroid,
search only the probed centroids' inverted lists, exact-rerank the
candidates.

Determinism: centroids are the vectors with the smallest vec_ids (a
fixed, engine-independent choice standing in for k-means — the plan
shape is identical when centroids come from a trained quantizer);
all dots/norms are left-to-right array folds (see similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from bitcoin_datawarehouse_spark.functions.vectors import (
    SQL_COS,
    SQL_NORMED,
    cosine_col,
    cosine_grid,
    cosine_row_blocks,
    dim_ordered_norms,
    norm_col,
    read_vectors,
)
from bitcoin_datawarehouse_spark.operators.similarity import (
    N_QUERIES,
    TOP_K,
    _topk_oracle,
)
from bitcoin_datawarehouse_spark.functions.scalars import scalar_cross
from bitcoin_datawarehouse_spark.registry import query
from bitcoin_datawarehouse_spark.tables import load_table

# fixture embeddings are near-random (max pairwise cosine ≈0.51 at
# sf0.01), so the "duplicate" threshold is set at ≈p99.9 of the pair
# distribution to exercise real output; production corpora with
# planted paraphrases use 0.9+
COSINE_DUP_THRESHOLD = 0.35
IVF_N_CENTROIDS = 16
IVF_NPROBE = 2

def _normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no repartition here: every consumer shuffles immediately (block-
    # pair fan-out, window over vec_id), so an up-front round-robin
    # exchange is pure overhead — measured +0.3-0.5 s per query
    return (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        .withColumn("nrm", norm_col(F.col("e")))
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH {SQL_NORMED}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {SQL_COS.format(a="a", b="b")} AS cosine
    FROM n a
    JOIN n b ON a.vec_id < b.vec_id
    WHERE {SQL_COS.format(a="a", b="b")} >= {COSINE_DUP_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ τ — the semantic
    dedup pass of a training-data pipeline (exact-match and MinHash
    miss paraphrases; embeddings catch them).

    Exact all-pairs via a distributed **block-pair grid**: vectors are
    hashed into ``NB`` blocks, every unordered block pair (p ≤ q)
    becomes one ``applyInPandas`` group holding block p as the A-side
    and block q as the B-side, and the kernel scores the A×B grid with
    dim-ordered numpy.  Nothing touches the driver: one scan explodes
    each vector to its NB+1 group assignments, the pair work is
    spread over NB·(NB+1)/2 tasks, and each task holds 2·N/NB vectors
    — the standard exact-APSS layout that survives a 100× corpus by
    raising NB (memory per task is N/NB-bounded, total compute is the
    irreducible O(N²/2) spread evenly).  When exactness can be traded
    for recall, the candidate source swaps to the sign-LSH bucket join
    of similarity_lsh_buckets (as dedup_minhash_lsh does) and this
    same kernel reranks — only the pair source changes.

    Bit-exactness with the DuckDB oracle is preserved because the
    accumulation loops over DIMENSIONS in order (acc += A[:,d]*B[:,d])
    — per pair that is the same left-to-right IEEE sequence as the
    JVM/DuckDB array fold; only the cross-pair axis is vectorized.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    # block count: NB(NB+1)/2 tasks, replication NB+1 per row.  Sized
    # so the grid at least fills the cluster — NB(NB+1)/2 ≥ cores —
    # with a floor of 4 (10 tasks, 5× replication at fixture scale);
    # raise further with the corpus: per-task memory is (2N/NB)·d
    # doubles, so NB grows linearly with N to hold task memory
    # constant while total compute stays the irreducible O(N²/2).
    # (Result-invariant: NB only changes the partitioning of the pair
    # grid, never which pairs are scored.)
    cores = spark.sparkContext.defaultParallelism
    NB = 4
    while NB * (NB + 1) // 2 < cores:
        NB += 1

    emb = _normed(spark, sf_dir).select("vec_id", "e")

    # Fan each vector out to its NB+1 block-pair groups with ONE scan
    # and one explode (no join): a vector in block b is the A-side of
    # pairs (b, q≥b), the B-side of (p≤b, b), and appears on BOTH
    # sides of the diagonal pair (b, b).
    blocked = emb.withColumn(
        "blk", F.pmod(F.hash("vec_id"), F.lit(NB)).cast("int")
    )
    assignments = F.expr(
        f"""concat(
          transform(sequence(0, {NB - 1}), q -> struct(
            least(blk, q) AS pa,
            greatest(blk, q) AS pb,
            CASE WHEN blk <= q THEN 0 ELSE 1 END AS role)),
          array(struct(blk AS pa, blk AS pb, 1 AS role)))"""
    )
    fanned = blocked.select(
        "vec_id", "e", F.explode(assignments).alias("bp")
    ).select(
        F.col("bp.pa").alias("pa"),
        F.col("bp.pb").alias("pb"),
        F.col("bp.role").alias("role"),
        "vec_id",
        "e",
    )

    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score_block_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["role"] == 0]
        b = pdf[pdf["role"] == 1]
        if a.empty or b.empty:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
        a_ids = a["vec_id"].to_numpy(dtype=np.int64)
        b_ids = b["vec_id"].to_numpy(dtype=np.int64)
        a_mat, b_mat = read_vectors(a["e"]), read_vectors(b["e"])
        diagonal = pdf["pa"].iloc[0] == pdf["pb"].iloc[0]
        out_a, out_b, out_c = [], [], []
        for s, cosine in cosine_row_blocks(
            a_mat, dim_ordered_norms(a_mat), b_mat, dim_ordered_norms(b_mat)
        ):
            blk_ids = a_ids[s : s + len(cosine)]
            mask = cosine >= COSINE_DUP_THRESHOLD
            if diagonal:
                # both sides hold the same vectors, so each unordered
                # pair appears twice in the grid — keep a < b
                mask &= blk_ids[:, None] < b_ids[None, :]
            # off-diagonal blocks are disjoint: every grid cell is a
            # distinct unordered pair; normalize id order on output
            # (cosine is commutative, so min/max relabeling is exact)
            ai, bi = np.nonzero(mask)
            out_a.append(np.minimum(blk_ids[ai], b_ids[bi]))
            out_b.append(np.maximum(blk_ids[ai], b_ids[bi]))
            out_c.append(cosine[ai, bi])
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    return fanned.groupBy("pa", "pb").applyInPandas(
        score_block_pair, out_schema
    )


#: bits per table for the scale-tier LSH dedup variant: 2^12 = 4096
#: buckets/table keeps expected bucket size (and with it the
#: quadratic in-bucket candidate volume) tractable as the corpus
#: grows, while true near-dups (cosine ≈ 1 ⇒ sign agreement on
#: almost every projection) keep colliding.
WIDE_LSH_BITS = 12


def _lsh_dedup_oracle(bits: int = None, bits_expr: str = None) -> str:
    from bitcoin_datawarehouse_spark.operators.similarity import sigs_sql

    return f"""
    WITH {sigs_sql(bits=bits, bits_expr=bits_expr)},
    cands AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM sigs a
      JOIN sigs b ON a.tbl = b.tbl AND a.bucket = b.bucket
                  AND a.vec_id < b.vec_id
    ),
    {SQL_NORMED.strip()}
    SELECT c.vec_a, c.vec_b, {SQL_COS.format(a="x", b="y")} AS cosine
    FROM cands c
    JOIN n x ON x.vec_id = c.vec_a
    JOIN n y ON y.vec_id = c.vec_b
    WHERE {SQL_COS.format(a="x", b="y")} >= {COSINE_DUP_THRESHOLD}
    """


#: auto width selection: bits ≈ log2(N / target_bucket_size), the
#: sizing rule stated (and measured) in SCALING.md — the sf10 probes
#: showed fixed widths go quadratic as the corpus grows (47M
#: candidates from 20k vectors at 8×5) while near-dups keep colliding
#: at any practical width.  The floor is the fixture-proven 8×5 (the
#: sf0.01 driver gate's 2 000-vector corpus lands exactly on it, so
#: auto and the pinned tier agree there); the ceiling is the widest
#: sf10-probed width (8×18: +2 bits = 4.7× faster, 99% true pairs
#: retained).
AUTO_LSH_TARGET_BUCKET = 64
AUTO_LSH_MIN_BITS = 5
AUTO_LSH_MAX_BITS = 18


def auto_lsh_bits(
    n_vectors: int,
    target_bucket_size: int = AUTO_LSH_TARGET_BUCKET,
    lo: int = AUTO_LSH_MIN_BITS,
    hi: int = AUTO_LSH_MAX_BITS,
) -> int:
    """Per-table sign-LSH width for a corpus of ``n_vectors``: the
    nearest power-of-two width holding expected bucket size at
    ``target_bucket_size`` (≈ +3.3 bits per corpus decade), clamped
    to the measured-good [fixture floor, sf10 ceiling] range."""
    import math

    if n_vectors <= 0:
        return lo
    bits = round(math.log2(max(n_vectors / target_bucket_size, 1.0)))
    return max(lo, min(hi, bits))


#: the ``auto_lsh_bits`` rule as a self-contained SQL scalar — the
#: auto variant's oracle computes the SAME corpus-count width rule in
#: DuckDB, so it follows the Spark side at ANY scale factor instead
#: of pinning one fixture width.  ROUND-half-away vs Python's
#: banker's round can only differ on an exact .5 — log2 of a rational
#: is irrational away from powers of two, and the equality is
#: pytest-verified exhaustively for every N ≤ 3·10⁶
#: (test_auto_lsh_sql_rule_matches_python).
AUTO_BITS_SQL = (
    f"SELECT GREATEST({AUTO_LSH_MIN_BITS}, LEAST({AUTO_LSH_MAX_BITS}, "
    f"CAST(ROUND(LOG2(GREATEST(COUNT(*) / {AUTO_LSH_TARGET_BUCKET}.0, "
    "1.0))) AS INT))) FROM embeddings"
)


@query(
    "dedup_embedding_cosine_lsh_auto",
    oracle=_lsh_dedup_oracle(bits_expr=AUTO_BITS_SQL),
)
def dedup_embedding_cosine_lsh_auto(
    spark: SparkSession, sf_dir: str, n_vectors: int | None = None
) -> DataFrame:
    """The registered PRODUCTION default of the LSH embedding dedup:
    width chosen AT RUNTIME from the corpus size (one count() probe
    of the embeddings scan, or a caller-supplied hint when the count
    is already known — e.g. from table statistics).  The oracle is
    width-adaptive too (:data:`AUTO_BITS_SQL` mirrors the rule in
    SQL), so the hash gate exercises the auto rule itself rather than
    a pinned width; cross-width equivalence
    ``auto(N) ≡ _lsh_dedup(bits=auto_lsh_bits(N))`` stays
    pytest-pinned alongside."""
    if n_vectors is None:
        n_vectors = load_table(spark, sf_dir, "embeddings").count()
    return _lsh_dedup(
        spark, sf_dir, bits=auto_lsh_bits(n_vectors), n_vectors=n_vectors
    )


#: target rows per grid-kernel group: the sub-bucket group count per
#: table is ⌈N / this⌉ (floored at 2·cores/tables so the grid at
#: least fills the cluster) — per-task state is then
#: ~LSH_GRID_GROUP_ROWS·(d+3) doubles (≈17 MB at d=64) regardless of
#: corpus size, and the applyInPandas group COUNT stays
#: O(cores + N/32k) instead of O(2^bits·tables) (the CLAUDE.md
#: group-count law: 15 876 tiny groups measured 165-200 s where ≤126
#: coarse groups doing identical work took 63-72 s).
LSH_GRID_GROUP_ROWS = 32_768


def _lsh_dedup(
    spark: SparkSession,
    sf_dir: str,
    bits: int = None,
    n_vectors: int | None = None,
) -> DataFrame:
    """Shared body of the LSH-candidate embedding dedup at a chosen
    table width (see the registered instances below).

    One corpus pass, two exchanges, zero joins (r13 rewrite): the
    signature kernel CARRIES each vector onto its #tables assignment
    rows (``carry_vec`` — the vectors are already in the kernel, so
    the old buckets⋈embeddings re-attach join and its exchanges were
    pure overhead), the rows shuffle ONCE on a coarse
    (tbl, bucket mod G) group key, and a numpy grid kernel loops the
    buckets inside each group — per-doc-finish at the group level.
    Scoring is the same dim-ordered accumulation as the exact block
    grid (bit-identical to the JVM/DuckDB left fold); pairs ≥ τ are
    emitted in-kernel and one distinct collapses multi-table
    collisions (identical double bits in every copy).

    This replaced BOTH r12 tiers.  The narrow tier grouped by
    (tbl, bucket) directly — group count 2^bits·tables, which is the
    CLAUDE.md applyInPandas group-count wall at production widths.
    The wide tier materialized candidate PAIRS through a bucket
    self-join + distinct + two embedding joins and an interpreted
    zip_with fold — measured at sf10 (200k vectors, auto 8×12):
    59.3M distinct pairs, the second join shuffling ~530 B/pair
    (~21 GB), 56-84 s end to end vs 6-7 s for this shape.  Candidate
    VOLUME is unchanged (same buckets, same pairs scored — inside the
    kernel); only the materialization is gone.  Per-task memory is
    bounded by :data:`LSH_GRID_GROUP_ROWS`, scale-adaptive via
    ``n_vectors`` (the auto variant's existing corpus count; the
    fixture-pinned variants default to the parallelism floor).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from bitcoin_datawarehouse_spark.operators.similarity import (
        LSH_TABLES,
        lsh_bucket_assignments,
    )

    assigned = lsh_bucket_assignments(
        spark, sf_dir, bits=bits, carry_vec=True
    )
    cores = spark.sparkContext.defaultParallelism
    g = max(
        -(-int(n_vectors) // LSH_GRID_GROUP_ROWS) if n_vectors else 1,
        -(-2 * cores // LSH_TABLES),
        1,
    )
    # (no singleton-bucket pre-filter: r12 measured a window-count +
    # filter 2.5-3.5× slower end-to-end — extra shuffles beat empty
    # numpy slices; the in-kernel bucket loop skips size<2 slices for
    # free)

    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    thr = COSINE_DUP_THRESHOLD

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
        buck = pdf["bucket"].to_numpy(dtype=np.int64)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        order = np.lexsort((ids, buck))  # vec_a < vec_b within bucket
        buck, ids = buck[order], ids[order]
        mat = read_vectors(pdf["e"])[order]
        starts = np.flatnonzero(np.r_[True, buck[1:] != buck[:-1]])
        ends = np.r_[starts[1:], len(buck)]
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        out_c: list[np.ndarray] = []
        for s, t in zip(starts, ends):
            n = t - s
            if n < 2:
                continue
            sub = mat[s:t]
            sid = ids[s:t]
            nrm = dim_ordered_norms(sub)
            # upper triangle (vec_a < vec_b), row-blocked: a hot bucket
            # never materializes its n×n grid
            for r, cos in cosine_row_blocks(sub, nrm, sub, nrm):
                rows = np.arange(r, r + len(cos))
                ai, bi = np.nonzero(
                    (cos >= thr) & (np.arange(n)[None, :] > rows[:, None])
                )
                out_a.append(sid[rows[ai]])
                out_b.append(sid[bi])
                out_c.append(cos[ai, bi])
        if not out_a:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    grouped = assigned.withColumn(
        "grp", F.pmod(F.col("bucket"), F.lit(g)).cast("int")
    )
    return (
        grouped.groupBy("tbl", "grp")
        .applyInPandas(score_group, out_schema)
        .distinct()
    )


@query("dedup_embedding_cosine_lsh", oracle=_lsh_dedup_oracle())
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs with LSH-sourced candidates — the
    recall-for-cost trade of :func:`dedup_embedding_cosine`: instead
    of the exact O(N²/2) block grid, candidate pairs come from the
    sign-LSH bucket self-join (any shared (table, bucket)), and only
    candidates are cosine-scored.

    Candidate volume is Σ bucket_size² over the table grid, the join
    is a bucket-key equi-join (never all-pairs), and the rerank is
    the same deterministic fold as every other cosine here.  Missed
    pairs are those sharing no bucket — the measured recall trade-off
    documented in SCALING.md.  This instance pins the fixture-tuned
    8×5 width (32 buckets/table — sized for the sf0.01 driver gate's
    2 000 vectors); the scale tier is the _wide instance below.
    """
    return _lsh_dedup(spark, sf_dir)


@query(
    "dedup_embedding_cosine_lsh_wide",
    oracle=_lsh_dedup_oracle(bits=WIDE_LSH_BITS),
)
def dedup_embedding_cosine_lsh_wide(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The corpus-scale configuration of the LSH embedding dedup:
    8×12 (4 096 buckets/table).  At a FIXED width a 10× corpus pays
    ~100× in in-bucket candidate pairs (measured at sf1: 47M
    candidates — 24% of all pairs — from 20k vectors at 8×5, 33 s);
    at 8×12 the same corpus yields bucket sizes near the singleton
    floor while jitter-level near-dups still agree on effectively all
    sign bits, so recall on TRUE near-dups holds (pytest-pinned
    against the exact grid).  Production sizing: bits ≈
    log2(N / target_bucket_size), registered per tier so every tier
    stays a static, hash-checkable oracle."""
    return _lsh_dedup(spark, sf_dir, bits=WIDE_LSH_BITS)


_SQL_IVF_COMMON = f"""
  {SQL_NORMED},
  cent AS (SELECT * FROM n WHERE vec_id < {IVF_N_CENTROIDS}),
  assign AS (
    SELECT vec_id, centroid_id FROM (
      SELECT x.vec_id, c.vec_id AS centroid_id,
             ROW_NUMBER() OVER (
               PARTITION BY x.vec_id
               ORDER BY {SQL_COS.format(a="x", b="c")} DESC, c.vec_id
             ) AS rn
      FROM n x CROSS JOIN cent c
    ) WHERE rn = 1
  )
"""


def nearest_centroid(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, centroid_id): nearest centroid by cosine, ties to the
    smallest centroid_id.  ``cent`` must have (centroid_id, ce, cn).

    Shared by the fixed-centroid IVF quantizer below and the trained
    k-means quantizer (operators/kmeans.py) — one place for any future
    tie-break change.  The cosine itself, and what a zero-norm vector
    scores, is ``functions.vectors.cosine_col``'s.

    The argmax is a ``min_by`` hash aggregate over the (-cos, id)
    struct: lexicographic min = max cosine with ties to the smallest
    id — map-side partial combine reduces K scored rows per vector to
    one BEFORE the shuffle (a window argmax would shuffle+sort all K).
    """
    cos = cosine_col(F.col("e"), F.col("nrm"), F.col("ce"), F.col("cn"))
    return (
        scalar_cross(emb, cent)
        .select("vec_id", "centroid_id", cos.alias("cos"))
        .groupBy("vec_id")
        .agg(
            F.min_by(
                "centroid_id", F.struct(-F.col("cos"), F.col("centroid_id"))
            ).alias("centroid_id")
        )
    )


def nearest_centroid_kernel(
    emb: DataFrame, cent: DataFrame
) -> DataFrame:
    """(vec_id, centroid_id) via an Arrow kernel against a
    driver-collected codebook — the serving-path variant of
    :func:`nearest_centroid` for a FIXED small centroid set.

    The codebook is a model (bounded by the configured k, here 16),
    not data: collecting it and shipping it in the kernel closure is
    exactly how a trained quantizer is deployed.  The kernel
    accumulates dot/norm over DIMENSIONS in order (acc += E[:,j]*C[:,j])
    — per (vector, centroid) that is the identical left-to-right IEEE
    sequence as the JVM/DuckDB array fold (same argument as
    dedup_embedding_cosine's kernel), so every cosine is bit-equal to
    the fold's and the argmax (first max over centroid_id-ascending
    columns = smallest id on ties) matches min_by(struct(-cos, id))
    and the oracle's ROW_NUMBER pick exactly.  Replaces a K-way
    crossJoin of interpreted HOF dot products + a min_by shuffle with
    one shuffle-free Arrow pass.  At fixture scale the per-call
    codebook collect offsets the saved compute (measured ~neutral);
    the win is structural: per vector the old path expanded K rows
    and evaluated K interpreted 64-term folds, this path is one numpy
    batch — the gap grows linearly with corpus size and k.  For very
    large k (a codebook that stops being driver-sized), use
    :func:`nearest_centroid`.
    """
    return _nearest_centroid_kernel_impl(emb, cent, keep_vec=False)


def collect_codebook(cent: DataFrame):
    """(ids, cmat, cn) numpy codebook from a (centroid_id, ce, cn)
    frame, centroid_id-ascending — the ONE owner of the
    collect-to-numpy extraction every codebook consumer (assignment
    kernels, the persisted IVF index's search/probe path) shares, for
    the same single-owner reason as ``functions.vectors``: the sort
    key and dtype choices here are part of the tie-break contract."""
    import numpy as np

    rows = sorted(
        cent.select("centroid_id", "ce", "cn").collect(),
        key=lambda r: r["centroid_id"],
    )
    ids = np.array([r["centroid_id"] for r in rows], dtype=np.int64)
    cmat = read_vectors(r["ce"] for r in rows)
    cn = np.array([float(r["cn"]) for r in rows], dtype=np.float64)
    return ids, cmat, cn


def probe_assignments(
    queries: DataFrame, cids, cmat, nprobe: int
) -> DataFrame:
    """(query_id, centroid_id, qe): each query's ``nprobe`` nearest
    centroids — ONE shuffle-free Arrow kernel over the distributed
    query frame (query_id, qe), with the codebook riding the closure.

    The single owner of query-side probe selection (both
    ``similarity_ivf_topk`` and the persisted ``IvfIndex.search`` use
    it): cosines accumulate through ``functions.vectors`` — bit-equal
    to the JVM/DuckDB fold — and ties go to the smallest centroid_id,
    matching the SQL oracle's ROW_NUMBER pick exactly.  The query
    vector is carried through so the downstream rerank never needs a
    driver-collected closure dict; serving cost is independent of the
    query-batch size.  This replaced a crossJoin + row_number window
    (a query-keyed shuffle per search) at both call sites.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("centroid_id", T.LongType()),
            T.StructField("qe", T.ArrayType(T.DoubleType())),
        ]
    )

    def probe_gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            qmat = read_vectors(pdf["qe"])
            cos, _ = cosine_grid(cmat, qmat)
            out_q, out_c, out_e = [], [], []
            qid_arr = pdf["query_id"].to_numpy(dtype=np.int64)
            for qi in range(len(qid_arr)):
                order = np.lexsort((cids, -cos[:, qi]))[:nprobe]
                out_q.extend([int(qid_arr[qi])] * len(order))
                out_c.extend(int(cids[ci]) for ci in order)
                out_e.extend([pdf["qe"].iloc[qi]] * len(order))
            yield pd.DataFrame(
                {"query_id": out_q, "centroid_id": out_c, "qe": out_e}
            )

    return queries.select("query_id", "qe").mapInPandas(probe_gen, schema)


def _nearest_centroid_kernel_impl(
    emb: DataFrame, cent: DataFrame, keep_vec: bool, codebook=None
) -> DataFrame:
    """Shared body of :func:`nearest_centroid_kernel`.

    With ``keep_vec=True`` the assignment rows carry the vector array
    through the kernel output — the inverted-list shape (centroid_id,
    vec_id, e) that lets IVF search join candidates WITHOUT a second
    shuffle of the corpus by vec_id (at warehouse scale this is what
    writing the lists bucketed by centroid_id achieves statically).

    ``codebook``: an already-collected ``(ids, cmat, cn)`` triple from
    :func:`collect_codebook` — callers that collected the SAME
    ``cent`` frame for their probe side pass it through so the
    codebook is fetched once per query, not once per consumer (r12:
    each redundant collect was a full driver job).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    ids, cmat, cn = (
        codebook if codebook is not None else collect_codebook(cent)
    )
    fields = [
        T.StructField("vec_id", T.LongType()),
        T.StructField("centroid_id", T.LongType()),
    ]
    if keep_vec:
        fields.append(T.StructField("e", T.ArrayType(T.DoubleType())))
    schema = T.StructType(fields)

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            emat = read_vectors(pdf["e"])
            cos, _ = cosine_grid(emat, cmat, cn)
            best = np.argmax(cos, axis=1)  # first max → smallest id
            out = {
                "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                "centroid_id": ids[best],
            }
            if keep_vec:
                out["e"] = pdf["e"]
            yield pd.DataFrame(out)

    spark = emb.sparkSession
    par = spark.sparkContext.defaultParallelism
    return (
        emb.select("vec_id", "e").repartition(par).mapInPandas(gen, schema)
    )


@query(
    "similarity_ivf_assign",
    oracle=f"""
    WITH {_SQL_IVF_COMMON}
    SELECT vec_id, centroid_id FROM assign
    """,
)
def similarity_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization: every vector → nearest centroid
    (cosine, deterministic vec_id tiebreak).

    Plan: the fixed 16-centroid codebook collects to the driver (a
    model, not data) and assignment is one shuffle-free Arrow kernel
    (:func:`nearest_centroid_kernel`, bit-equal to the min_by
    formulation).  At scale the inverted lists are written bucketed
    BY centroid_id so the search-time join is shuffle-free
    (bucket-local); for large k use :func:`nearest_centroid`.
    """
    emb = _normed(spark, sf_dir)
    cent = emb.filter(F.col("vec_id") < IVF_N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    return nearest_centroid_kernel(emb, cent)


def _ivf_topk_oracle(nprobe_expr: str, extra_ctes: str = "") -> str:
    """IVF top-k oracle parametrized by the nprobe EXPRESSION — a
    literal for the fixed gate variant, a scalar subquery over
    ``extra_ctes`` for the runtime auto-nprobe rule (the AUTO_BITS_SQL
    pattern: the oracle recomputes the adaptive constant from the
    corpus it runs on)."""
    return _topk_oracle(
        "cands cd JOIN n q ON q.vec_id = cd.query_id"
        " JOIN n c ON c.vec_id = cd.cand_id",
        ctes=f"""{extra_ctes}
    probes AS (
      SELECT query_id, centroid_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {SQL_COS.format(a="q", b="c")} DESC, c.vec_id
               ) AS rn
        FROM n q CROSS JOIN cent c
        WHERE q.vec_id < {N_QUERIES}
      ) WHERE rn <= {nprobe_expr}
    ),
    cands AS (
      SELECT DISTINCT p.query_id, a.vec_id AS cand_id
      FROM probes p
      JOIN assign a ON a.centroid_id = p.centroid_id
      WHERE a.vec_id <> p.query_id
    ),""",
        head=_SQL_IVF_COMMON,
    )


#: shared by ``similarity_ivf_topk`` (plan recomputed per call) and
#: ``similarity_ivf_index_topk`` (served from the persisted bucketed
#: index, operators/ivf_index.py) — both produce bit-identical rows,
#: so one oracle string is the contract for both.
IVF_TOPK_ORACLE = _ivf_topk_oracle(str(IVF_NPROBE))


@query("similarity_ivf_topk", oracle=IVF_TOPK_ORACLE)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search at the fixed ``IVF_NPROBE`` — full plan notes on
    :func:`_ivf_topk_impl`; the runtime-adaptive variant is
    ``similarity_ivf_topk_auto``."""
    return _ivf_topk_impl(spark, sf_dir, IVF_NPROBE)


def _ivf_topk_impl(
    spark: SparkSession, sf_dir: str, nprobe: int
) -> DataFrame:
    """IVF ANN search: probe the nprobe nearest centroids, scan only
    their inverted lists, exact-rerank to top-k.

    The candidate set is |probed lists| ≈ nprobe/n_centroids of the
    corpus — the 1000-executor path where brute force is O(N) per
    query.  Join shape: probes (tiny, broadcast) ⋈ assignment lists ⋈
    candidate vectors, then a per-query Arrow grid rerank with the
    top-k selection INSIDE the kernel: per query group, one numpy
    dim-ordered pass scores every candidate (the identical
    left-to-right IEEE sequence as the JVM/DuckDB array fold, so
    cosines are bit-equal to the oracle's) and emits only k rows —
    replacing ~|candidates| interpreted 64-term HOF folds plus a
    window sort-shuffle with one vectorized pass per group.  The
    query VECTOR rides the probe rows into the kernel (qn recomputed
    in the same dim order) — never a driver collect, so the plan is
    independent of the query-batch size; candidate norms are computed
    in-kernel too, so the corpus side ships (vec_id, e) only.  Group
    count = |queries| — far above any cluster's core count in a real
    serving batch.
    """
    emb = _normed(spark, sf_dir)
    cent = emb.filter(F.col("vec_id") < IVF_N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    qset = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
    )
    # query side stays DISTRIBUTED (only the codebook rides the
    # kernel closure): probe selection and the rerank must not depend
    # on the query-batch size — qe rides the probe rows into the
    # rerank instead of a driver-collected closure dict, and the
    # shared probe kernel replaces a crossJoin + row_number window
    # (one query-keyed shuffle saved per search)
    cb = collect_codebook(cent)
    cb_ids, cb_mat, _cb_n = cb
    probes = probe_assignments(qset, cb_ids, cb_mat, nprobe)
    # Inverted lists WITH vectors: each vector belongs to exactly one
    # centroid list, so probes ⋈ lists is already distinct per
    # (query_id, cand_id) — no dedup shuffle — and carrying `e`
    # through the assignment kernel makes this broadcast join the
    # candidate FETCH too (no second shuffle of the corpus by vec_id).
    lists = _nearest_centroid_kernel_impl(
        emb, cent, keep_vec=True, codebook=cb
    ).select(
        F.col("vec_id").alias("cand_id"), "centroid_id",
        F.col("e").alias("ce2"),
    )
    sub = (
        F.broadcast(probes)
        .join(lists, "centroid_id")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "qe", "cand_id", "ce2")
    )

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("cand_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
            T.StructField("rnk", T.IntegerType()),
        ]
    )

    def rerank(key, pdf):
        qid = int(key[0])
        q = np.array(pdf["qe"].iloc[0], dtype=np.float64)
        cand_ids = pdf["cand_id"].to_numpy(dtype=np.int64)
        cmat = read_vectors(pdf["ce2"])
        cos = cosine_grid(cmat, q[None, :])[0][:, 0]
        order = np.lexsort((cand_ids, -cos))[:TOP_K]
        return pd.DataFrame(
            {
                "query_id": np.full(len(order), qid, dtype=np.int64),
                "cand_id": cand_ids[order],
                "cosine": cos[order],
                "rnk": np.arange(1, len(order) + 1, dtype=np.int32),
            }
        )

    return sub.groupBy("query_id").applyInPandas(rerank, schema)


# ---------------------------------------------------------------------------
# round 7: ANN quality evaluation — recall@k of IVF against brute force
# ---------------------------------------------------------------------------

@query(
    "similarity_ivf_recall",
    oracle=None,  # set below — needs BF_TOPK_ORACLE, imported lazily
)
def similarity_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF ANN path against the exact brute-force
    ground truth — the evaluation surface every production ANN
    deployment runs before trading exactness for bucket pruning
    (recall here is a property of the quantizer/nprobe geometry, so
    the harness is how one TUNES ``IVF_NPROBE``).

    Per query: |ivf_topk ∩ bruteforce_topk| / k, plus the mean over
    the query set — every count is an exact integer, the two
    divisions are single correctly-rounded IEEE ops on identical
    operands, so the surface hash-gates without string routing.  The
    oracle embeds the two registered queries' EXACT oracle texts as
    CTEs (textual reuse — the harness can never drift from what it
    claims to measure).

    Plan: both sides are the registered plans (kernel-scored, k rows
    per query each); the intersection is a (queries·k)-row broadcast
    join and a bounded window — evaluation cost is search cost, the
    join is noise.
    """
    from bitcoin_datawarehouse_spark.operators.similarity import (
        similarity_bruteforce_topk,
    )

    bf = similarity_bruteforce_topk(spark, sf_dir).select(
        "query_id", "cand_id"
    )
    ivf = similarity_ivf_topk(spark, sf_dir).select(
        F.col("query_id").alias("_iq"), F.col("cand_id").alias("_ic")
    )
    hits = (
        bf.join(
            F.broadcast(ivf),
            (F.col("query_id") == F.col("_iq"))
            & (F.col("cand_id") == F.col("_ic")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("_ic").cast("bigint").alias("hits"))
    )
    w = W.partitionBy()  # bounded: one row per query (N_QUERIES)
    return hits.select(
        "query_id",
        "hits",
        (F.col("hits").cast("double") / F.lit(float(TOP_K))).alias(
            "recall_at_k"
        ),
        (
            F.sum("hits").over(w).cast("bigint").cast("double")
            / F.lit(float(N_QUERIES * TOP_K))
        ).alias("mean_recall"),
    )


def _recall_oracle() -> str:
    from bitcoin_datawarehouse_spark.operators.similarity import (
        BF_TOPK_ORACLE,
    )

    return f"""
    WITH ivf AS ({IVF_TOPK_ORACLE}),
    bf AS ({BF_TOPK_ORACLE}),
    hits AS (
      SELECT b.query_id, CAST(COUNT(i.cand_id) AS BIGINT) AS hits
      FROM bf b
      LEFT JOIN ivf i
        ON i.query_id = b.query_id AND i.cand_id = b.cand_id
      GROUP BY b.query_id
    )
    SELECT query_id, hits,
           CAST(hits AS DOUBLE) / CAST({TOP_K} AS DOUBLE) AS recall_at_k,
           CAST(CAST(SUM(hits) OVER () AS BIGINT) AS DOUBLE)
             / CAST({N_QUERIES * TOP_K} AS DOUBLE) AS mean_recall
    FROM hits
    """


from bitcoin_datawarehouse_spark import registry as _registry  # noqa: E402

_registry.ORACLES["similarity_ivf_recall"] = _recall_oracle()


# ---------------------------------------------------------------------------
# round 8: runtime auto-nprobe chosen FROM the recall harness
# ---------------------------------------------------------------------------
#
# r7 VERDICT item 7: `similarity_ivf_recall` measures recall@k but
# nothing consumed it.  The closed-loop rule rests on one exact fact:
# a brute-force top-k neighbour appears in IVF(n)'s top-k IFF its
# assigned centroid sits within the query's n nearest centroids
# ("captured") — capture ⇒ membership because a GLOBAL top-k member
# beats every competitor in any candidate subset containing it, and
# membership ⇒ capture trivially.  So
#
#     mean_recall(n) = |{BF neighbours with probe-rank ≤ n}| / (Q·k)
#
# is a cumulative count, monotone in n, and the smallest n reaching a
# target recall is the C-th ORDER STATISTIC of the neighbours'
# probe-ranks, C = ⌈target·Q·k⌉ — one integer-exact scalar both
# engines can compute (the auto_lsh_bits pattern), no per-n re-search.

IVF_RECALL_TARGET = 0.95


def probe_ranks(queries: DataFrame, cids, cmat) -> DataFrame:
    """(query_id, centroid_id, prank): each query's FULL centroid
    ranking (cosine desc, centroid_id tiebreak) —
    :func:`probe_assignments`' sibling that exposes the rank itself,
    for recall calibration.  Same closure-codebook kernel shape, same
    dim-ordered accumulation, so ranks are bit-consistent with the
    oracle's ROW_NUMBER."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("centroid_id", T.LongType()),
            T.StructField("prank", T.IntegerType()),
        ]
    )
    k = len(cids)

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            qmat = read_vectors(pdf["qe"])
            cos, _ = cosine_grid(cmat, qmat)
            qid_arr = pdf["query_id"].to_numpy(dtype=np.int64)
            out_q, out_c, out_r = [], [], []
            for qi in range(len(qid_arr)):
                order = np.lexsort((cids, -cos[:, qi]))
                out_q.extend([int(qid_arr[qi])] * k)
                out_c.extend(int(cids[ci]) for ci in order)
                out_r.extend(range(1, k + 1))
            yield pd.DataFrame(
                {"query_id": out_q, "centroid_id": out_c, "prank": out_r}
            )

    return queries.select("query_id", "qe").mapInPandas(gen, schema)


#: calibration results keyed (applicationId, sf_dir, target) — the
#: chosen nprobe is a planning constant that changes only with the
#: corpus, so it is computed once per session and reused across
#: serving calls (the _EVAL_SHINGLES session-artifact pattern; a
#: corpus swap under the same path needs a new session or an explicit
#: cache clear, same contract as tables.cache_tables)
_NPROBE_CACHE: dict[tuple[str, str, float], int] = {}


def auto_ivf_nprobe(
    spark: SparkSession, sf_dir: str, target: float = IVF_RECALL_TARGET
) -> int:
    """Pick the smallest nprobe whose recall@k over the query sample
    reaches ``target``: the C-th order statistic (C = ⌈target·Q·k⌉) of
    the brute-force neighbours' centroid probe-ranks (module comment
    above).  Cost = one brute-force pass over the SAMPLE (exactly what
    `similarity_ivf_recall` already pays) + one bounded scalar
    collect, paid ONCE per (session, corpus); the chosen nprobe then
    serves every query batch."""
    import math

    from bitcoin_datawarehouse_spark.operators.similarity import (
        similarity_bruteforce_topk,
    )

    key = (spark.sparkContext.applicationId, sf_dir, target)
    hit = _NPROBE_CACHE.get(key)
    if hit is not None:
        return hit

    emb = _normed(spark, sf_dir)
    cent = emb.filter(F.col("vec_id") < IVF_N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    qset = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    cb = collect_codebook(cent)
    cb_ids, cb_mat, _ = cb
    bf = similarity_bruteforce_topk(spark, sf_dir).select(
        "query_id", "cand_id"
    )
    assign = _nearest_centroid_kernel_impl(
        emb, cent, keep_vec=False, codebook=cb
    )
    pranks = probe_ranks(qset, cb_ids, cb_mat)
    pr = (
        bf.join(
            assign, bf["cand_id"] == assign["vec_id"]
        )
        .select("query_id", "centroid_id")
        .join(pranks, ["query_id", "centroid_id"])
        .select("prank")
    )
    c = math.ceil(target * N_QUERIES * TOP_K)
    row = pr.orderBy("prank").limit(c).agg(F.max("prank")).first()
    n = int(row[0]) if row[0] is not None else 1
    _NPROBE_CACHE[key] = n
    return n


def _auto_nprobe_oracle() -> str:
    import math

    from bitcoin_datawarehouse_spark.operators.similarity import (
        BF_TOPK_ORACLE,
    )

    c = math.ceil(IVF_RECALL_TARGET * N_QUERIES * TOP_K)
    extra = f"""
    bfq AS ({BF_TOPK_ORACLE}),
    pranks AS (
      SELECT q.vec_id AS query_id, c.vec_id AS centroid_id,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {SQL_COS.format(a="q", b="c")} DESC, c.vec_id
             ) AS prank
      FROM n q CROSS JOIN cent c
      WHERE q.vec_id < {N_QUERIES}
    ),
    nbr AS (
      SELECT b.query_id, a.centroid_id
      FROM bfq b JOIN assign a ON a.vec_id = b.cand_id
    ),
    prs AS (
      SELECT p.prank
      FROM nbr
      JOIN pranks p ON p.query_id = nbr.query_id
                   AND p.centroid_id = nbr.centroid_id
    ),
    auto_np AS (
      SELECT MAX(prank) AS auto_n
      FROM (SELECT prank FROM prs ORDER BY prank LIMIT {c})
    ),"""
    return _ivf_topk_oracle("(SELECT auto_n FROM auto_np)", extra)


@query("similarity_ivf_topk_auto")
def similarity_ivf_topk_auto(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF ANN search with nprobe chosen AT RUNTIME to hit
    ``IVF_RECALL_TARGET`` recall@k on the query sample
    (:func:`auto_ivf_nprobe`) — the production tuning loop closed:
    the recall harness measures, this rule decides, the search runs.
    Output surface and plan are identical to ``similarity_ivf_topk``
    (same impl, adaptive constant); the oracle recomputes the order-
    statistic rule in SQL, so the hash gate proves the rule itself at
    any scale factor (measured knees: nprobe 7 / 12 / 1 at
    sf0.001 / 0.01 / 0.1 — genuinely corpus-dependent)."""
    return _ivf_topk_impl(
        spark, sf_dir, auto_ivf_nprobe(spark, sf_dir)
    )


_registry.ORACLES["similarity_ivf_topk_auto"] = _auto_nprobe_oracle()


# ---------------------------------------------------------------------------
# round 8: cross-method agreement harness (text pairs vs semantic pairs)
# ---------------------------------------------------------------------------
# Lives HERE (not dedup.py) because its oracle embeds BOTH registered
# pair oracles verbatim — dedup_minhash_lsh registers when dedup.py
# imports (earlier in load_all_operators) and dedup_embedding_cosine
# registers above, so both texts exist at this module's import time.


from bitcoin_datawarehouse_spark.functions.numeric import (  # noqa: E402
    SQL_STR_ROUND6,
    str_round6,
)


def _method_agreement_oracle() -> str:
    from bitcoin_datawarehouse_spark.operators.dedup import (
        JACCARD_THRESHOLD,
    )

    O = _registry.ORACLES
    return f"""
    WITH mh AS ({O["dedup_minhash_lsh"]}),
    tp AS (
      SELECT doc_a, doc_b FROM mh
      WHERE jaccard >= {JACCARD_THRESHOLD}
        AND doc_a IN (SELECT vec_id FROM embeddings)
        AND doc_b IN (SELECT vec_id FROM embeddings)
    ),
    sp AS (
      SELECT vec_a AS doc_a, vec_b AS doc_b
      FROM ({O["dedup_embedding_cosine"]})
    ),
    agg AS (
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM tp) AS n_text_pairs,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM sp) AS n_sem_pairs,
        (SELECT CAST(COUNT(*) AS BIGINT)
         FROM tp JOIN sp ON tp.doc_a = sp.doc_a
                        AND tp.doc_b = sp.doc_b) AS n_both
    )
    SELECT n_text_pairs, n_sem_pairs, n_both,
           n_text_pairs - n_both AS text_only,
           n_sem_pairs - n_both AS sem_only,
           {SQL_STR_ROUND6(
               "CAST(n_both AS DOUBLE)"
               " / (n_text_pairs + n_sem_pairs - n_both)"
           )} AS consensus_jaccard
    FROM agg
    """


@query("dedup_method_agreement")
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-METHOD dedup evaluation: how much the text-side verdict
    (MinHash-LSH pairs at the exact-Jaccard threshold) and the
    semantic verdict (embedding-cosine dup pairs) agree — the
    calibration readout a curation pipeline checks before choosing
    thresholds or stage order (the evaluation-harness family next to
    sketch calibration and recall@k).

    One summary row: both pair counts, the intersection, each side's
    exclusive count, and the pair-set consensus Jaccard
    |A∩B| / |A∪B| (an integer-ratio quotient — str_round6, the
    CLAUDE.md tie rule).  Text pairs are RESTRICTED to docs that have
    an embedding (both endpoints), so the two methods are compared on
    the population both can see — at sf0.1 the embedding table covers
    only a subset of doc ids.  The oracle embeds both registered pair
    oracles verbatim (the textual-reuse precedent).

    Scale: both sides are the registered candidate-bounded plans; the
    comparison itself is a pair-sized equi-join plus scalar
    aggregates.
    """
    from bitcoin_datawarehouse_spark.functions.cachereg import cache_tracked
    from bitcoin_datawarehouse_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        minhash_lsh_pairs,
    )
    from bitcoin_datawarehouse_spark.tables import load_table as _lt

    emb_ids = _lt(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    # tp and sp each feed TWO subtrees of the single `counts` action
    # (their own count + the `both` semi-join) — the CLAUDE.md
    # shared-subgraph rule: cache_tracked + eager fill, or the band
    # join and the cosine block grid each run twice per execution
    # (r8 VERDICT nit).  Both frames are pair-sized (tiny).
    tp = cache_tracked(
        minhash_lsh_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
        .join(
            emb_ids.select(F.col("doc_id").alias("doc_a")), "doc_a", "semi"
        )
        .join(
            emb_ids.select(F.col("doc_id").alias("doc_b")), "doc_b", "semi"
        )
    )
    sp = cache_tracked(
        dedup_embedding_cosine(spark, sf_dir).select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        )
    )
    tp.count()
    sp.count()
    both = tp.join(sp, ["doc_a", "doc_b"], "semi")
    counts = scalar_cross(
        scalar_cross(
            tp.agg(F.count(F.lit(1)).cast("bigint").alias("n_text_pairs")),
            sp.agg(F.count(F.lit(1)).cast("bigint").alias("n_sem_pairs")),
        ),
        both.agg(F.count(F.lit(1)).cast("bigint").alias("n_both")),
    )
    return counts.select(
        "n_text_pairs",
        "n_sem_pairs",
        "n_both",
        (F.col("n_text_pairs") - F.col("n_both")).alias("text_only"),
        (F.col("n_sem_pairs") - F.col("n_both")).alias("sem_only"),
        str_round6(
            F.col("n_both").cast("double")
            / (
                F.col("n_text_pairs")
                + F.col("n_sem_pairs")
                - F.col("n_both")
            )
        ).alias("consensus_jaccard"),
    )


_registry.ORACLES["dedup_method_agreement"] = _method_agreement_oracle()


# -- semantic decontamination -------------------------------------------------


@query(
    "decontam_semantic_overlap",
    oracle=f"""
    WITH {SQL_NORMED},
    ev AS (SELECT * FROM n WHERE vec_id % 97 = 0),
    c AS (SELECT * FROM n WHERE vec_id % 97 <> 0),
    pairs AS (
      SELECT c.vec_id, {SQL_COS.format(a="c", b="ev")} AS cos
      FROM c JOIN ev ON TRUE
    )
    SELECT vec_id,
           MAX(cos) AS max_eval_cosine,
           CAST(COUNT(*) FILTER (WHERE cos >= {COSINE_DUP_THRESHOLD})
                AS BIGINT) AS n_eval_hits,
           MAX(cos) >= {COSINE_DUP_THRESHOLD} AS contaminated
    FROM pairs GROUP BY vec_id
    """,
)
def decontam_semantic_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEMANTIC benchmark decontamination — the embedding sibling of
    ``decontam_ngram_overlap``: a corpus vector is contaminated when
    its cosine against ANY eval-suite vector (the ``vec_id % 97``
    slice, mirroring the n-gram stage's ``EVAL_MOD`` eval set) reaches
    the duplicate threshold.  N-gram overlap misses paraphrased eval
    leakage; embeddings catch it (the published gap this stage
    closes).

    Scale shape: the eval suite is a bounded MODEL ARTIFACT (the same
    argument as the n-gram stage's session shingle set), so it rides
    the kernel closure and the corpus pass is map-only — one Arrow
    kernel scores each corpus vector against the broadcast eval
    matrix with dimension-ordered accumulation (the IEEE-parity
    discipline of the cosine family); no join, no shuffle beyond the
    scan.  At 100 TB: eval suites are fixed-size by construction;
    corpus cost is one read.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    normed = _normed(spark, sf_dir)
    ev_rows = normed.filter(F.col("vec_id") % 97 == 0).collect()
    if not ev_rows:
        raise ValueError("empty eval slice (vec_id % 97) — no decontam set")
    E = read_vectors(r["e"] for r in ev_rows)
    e_nrm = dim_ordered_norms(E)

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("max_eval_cosine", T.DoubleType()),
            T.StructField("n_eval_hits", T.LongType()),
            T.StructField("contaminated", T.BooleanType()),
        ]
    )
    tau = COSINE_DUP_THRESHOLD

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = read_vectors(pdf["e"])
            c_nrm = pdf["nrm"].to_numpy(dtype=np.float64)
            best = np.empty(len(C))
            hits = np.empty(len(C), dtype=np.int64)
            for s, cos in cosine_row_blocks(C, c_nrm, E, e_nrm):
                best[s : s + len(cos)] = cos.max(axis=1)
                hits[s : s + len(cos)] = (cos >= tau).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "max_eval_cosine": best,
                    "n_eval_hits": hits,
                    "contaminated": best >= tau,
                }
            )

    par = spark.sparkContext.defaultParallelism
    return (
        normed.filter(F.col("vec_id") % 97 != 0)
        .repartition(par)
        .mapInPandas(gen, schema)
    )
