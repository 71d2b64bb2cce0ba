"""Product quantization (PQ) for the ANN family (Jégou et al., IEEE
TPAMI 2011 — "Product quantization for nearest neighbor search").

At 100 TB the corpus' raw vectors don't fit hot storage next to the
index: PQ splits each d-dim vector into M subvectors, quantizes each
against a per-subspace codebook, and stores only the M code ids —
here 64 dims → 8 subspaces × 16 codes = ONE packed BIGINT per vector
(64 doubles → 4 bytes, a 128× compression).  Search then runs ADC
(asymmetric distance computation): the query stays exact, each
candidate's distance is approximated as the sum of per-subspace
query→assigned-centroid distances, looked up from an M×K table built
once per query — 8 lookups + 7 adds instead of a 64-term fold.  This
is the IVF-PQ layout's compression half; the coarse-quantizer half
(inverted lists, bucket pruning) is ``ivf_index.py`` — composing
them is pointing IvfIndex's list payload at ``pq_code`` instead of
``e``.

Like the IVF family, the registered queries use the deterministic
smallest-vec_ids sub-codebooks so the gate stays hash-checkable; a
trained per-subspace ``kmeans_fit`` codebook drops in unchanged
(the assignment/tie contract is the argmin below either way).

Engine-parity contract: every per-subspace squared distance is a
dimension-ordered accumulation of (x_j - c_j)² — the identical
left-to-right IEEE sequence as DuckDB's ``list_reduce`` fold — and
the 8-term ADC total is the left-associated sum d0+d1+…+d7 on both
sides, so ranks (ties to the smallest cand_id) agree bit-for-bit.
Integer code packing is exact arithmetic (code_m << 4m).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from bitcoin_datawarehouse_spark.functions.numeric import (
    SQL_STR_ROUND6,
    str_round6,
)
from bitcoin_datawarehouse_spark.functions.vectors import (
    SQL_COS,
    cosine_grid,
    read_vectors,
)
from bitcoin_datawarehouse_spark.operators.similarity import (
    N_QUERIES,
    TOP_K,
)
from bitcoin_datawarehouse_spark.registry import query
from bitcoin_datawarehouse_spark.tables import load_table

PQ_M = 8  #: subspaces
PQ_SUB_DIM = 8  #: dims per subspace (M × SUB_DIM = the 64-dim contract)
PQ_K = 16  #: codes per subspace (fits a 4-bit nibble of the packed id)


def _collect_subcodebooks(emb: DataFrame):
    """(M, K, SUB_DIM) numpy sub-codebooks from the deterministic
    smallest-vec_ids seed rows — the model artifact every PQ kernel
    ships in its closure (8×16×8 doubles; a trained codebook is the
    same shape).

    Seed selection is BY RANK of vec_id (one TakeOrderedAndProject),
    never a ``vec_id < K`` value window — scaled fixtures stride ids
    by powers of ten, so a value window silently shrinks the codebook
    (the CLAUDE.md codebook rule; r9 VERDICT item 4 aligned this with
    chunk_retrieval's discipline).  On dense fixtures the two select
    identical rows, so the registered gates are bit-unchanged."""
    import numpy as np

    rows = sorted(
        emb.select("vec_id", "e").orderBy("vec_id").limit(PQ_K).collect(),
        key=lambda r: r["vec_id"],
    )
    assert len(rows) == PQ_K, "corpus smaller than the codebook seed"
    full = np.array([list(r["e"]) for r in rows], dtype=np.float64)
    return np.stack(
        [
            full[:, m * PQ_SUB_DIM : (m + 1) * PQ_SUB_DIM]
            for m in range(PQ_M)
        ]
    )


def _sub_d2(xmat, cmat):
    """(len(x), len(c)) squared L2 grid accumulated DIMENSION BY
    DIMENSION — the cross-engine IEEE contract (``functions.vectors``'
    argument, for the subtract-square fold)."""
    import numpy as np

    d2 = np.zeros((xmat.shape[0], cmat.shape[0]))
    for j in range(xmat.shape[1]):
        diff = xmat[:, j][:, None] - cmat[:, j][None, :]
        d2 += diff * diff
    return d2


def pq_encode(emb: DataFrame, cb) -> DataFrame:
    """(vec_id, pq_code): per-subspace argmin against ``cb`` (ties to
    the smallest code — numpy argmin's first-occurrence over
    code-ascending columns), nibble-packed into one BIGINT.  One
    shuffle-free Arrow pass; the codebook rides the closure."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("pq_code", T.LongType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            emat = read_vectors(pdf["e"])
            packed = np.zeros(len(emat), dtype=np.int64)
            for m in range(PQ_M):
                sub = emat[:, m * PQ_SUB_DIM : (m + 1) * PQ_SUB_DIM]
                codes = np.argmin(_sub_d2(sub, cb[m]), axis=1)
                packed |= codes.astype(np.int64) << (4 * m)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "pq_code": packed,
                }
            )

    spark = emb.sparkSession
    par = spark.sparkContext.defaultParallelism
    return emb.select("vec_id", "e").repartition(par).mapInPandas(
        gen, schema
    )


# ---- shared oracle CTEs ------------------------------------------------

_SQL_D2 = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " p -> (p[1] - p[2]) * (p[1] - p[2])), (acc, x) -> acc + x)"
)

#: per-vector per-subspace slices, the seed sub-codebooks, and the
#: per-(vector, subspace) assigned code — assumes a ``v(vec_id, e)``
#: CTE is already in scope (so the fragment composes with the IVF
#: CTE block, which defines its own ``v``)
_SQL_V = (
    "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e"
    " FROM embeddings)"
)

_SQL_PQ_CODES = f"""
  sub AS (
    SELECT vec_id, m,
           e[(m * {PQ_SUB_DIM} + 1):(m * {PQ_SUB_DIM} + {PQ_SUB_DIM})] AS se
    FROM v, (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m)
  ),
  cb AS (
    SELECT vec_id AS code, m, se AS ce FROM sub WHERE vec_id < {PQ_K}
  ),
  codes AS (
    SELECT vec_id, m, code FROM (
      SELECT s.vec_id, s.m, c.code,
             ROW_NUMBER() OVER (
               PARTITION BY s.vec_id, s.m
               ORDER BY {_SQL_D2.format(a="s.se", b="c.ce")}, c.code
             ) AS rn
      FROM sub s JOIN cb c ON c.m = s.m
    ) WHERE rn = 1
  )
"""


@query(
    "similarity_pq_encode",
    oracle=f"""
    WITH {_SQL_V},
    {_SQL_PQ_CODES}
    SELECT vec_id,
           CAST(SUM(code << (4 * m)) AS BIGINT) AS pq_code
    FROM codes GROUP BY vec_id
    """,
)
def similarity_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-encode the whole embeddings table: every vector's 8
    subspace codes against the deterministic 16-entry sub-codebooks,
    nibble-packed into one BIGINT (the 128×-compressed column a
    100 TB vector store would persist next to — or instead of — the
    raw arrays)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    return pq_encode(emb, _collect_subcodebooks(emb))


_ADC_TOTAL = " + ".join(f"d{m}" for m in range(PQ_M))
_ADC_PIVOT = ",\n             ".join(
    f"MAX(CASE WHEN l.m = {m} THEN l.d2 END) AS d{m}"
    for m in range(PQ_M)
)


@query(
    "similarity_pq_adc_topk",
    oracle=f"""
    WITH {_SQL_V},
    {_SQL_PQ_CODES},
    lut AS (
      SELECT q.vec_id AS query_id, c.m, c.code,
             {_SQL_D2.format(a="q.se", b="c.ce")} AS d2
      FROM sub q JOIN cb c ON c.m = q.m
      WHERE q.vec_id < {N_QUERIES}
    ),
    adc0 AS (
      SELECT l.query_id, k.vec_id AS cand_id,
             {_ADC_PIVOT}
      FROM codes k
      JOIN lut l ON l.m = k.m AND l.code = k.code
      WHERE k.vec_id <> l.query_id
      GROUP BY l.query_id, k.vec_id
    ),
    ranked AS (
      SELECT query_id, cand_id, {_ADC_TOTAL} AS adist,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY {_ADC_TOTAL}, cand_id
             ) AS rnk
      FROM adc0
    )
    SELECT query_id, cand_id,
           {SQL_STR_ROUND6("adist")} AS adc_dist,
           CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """,
)
def similarity_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k over PQ codes: the query set (vec_id < 10) scored
    against the ENCODED corpus — per candidate, 8 table lookups + 7
    adds instead of a 64-term fold over a vector that would otherwise
    have to be resident.

    Distributed shape mirrors ``similarity_bruteforce_topk``: the
    per-query M×K lookup tables (8×16 doubles each) are built once in
    the kernel closure, each corpus partition scores its codes and
    emits only its partial top-k, and the final window ranks a
    partitions×queries×k frame.  The codes themselves come from the
    same in-plan encode kernel (production would read the persisted
    ``pq_code`` column and skip that stage).

    The ADC total accumulates subspaces IN ORDER (left-associated
    d0+d1+…+d7, matching the SQL), so ranks and the 6-dp exposed
    distance agree with the oracle bit-for-bit.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    cb = _collect_subcodebooks(emb)
    qrows = sorted(
        emb.filter(F.col("vec_id") < N_QUERIES).collect(),
        key=lambda r: r["vec_id"],
    )
    qids = np.array([int(r["vec_id"]) for r in qrows], dtype=np.int64)
    qmat = np.array([list(r["e"]) for r in qrows], dtype=np.float64)
    # per-query LUT: lut[m][q, code] = d2(query subvector m, centroid)
    lut = [
        _sub_d2(qmat[:, m * PQ_SUB_DIM : (m + 1) * PQ_SUB_DIM], cb[m])
        for m in range(PQ_M)
    ]

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("cand_id", T.LongType()),
            T.StructField("adist", T.DoubleType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            cand = pdf["vec_id"].to_numpy(dtype=np.int64)
            packed = pdf["pq_code"].to_numpy(dtype=np.int64)
            nibbles = [
                (packed >> (4 * m)) & 0xF for m in range(PQ_M)
            ]
            out_q, out_c, out_d = [], [], []
            for qi in range(len(qids)):
                # subspace-ordered accumulation — the SQL's d0+d1+…+d7
                total = lut[0][qi, nibbles[0]].copy()
                for m in range(1, PQ_M):
                    total = total + lut[m][qi, nibbles[m]]
                keep = cand != qids[qi]
                ci, di = cand[keep], total[keep]
                order = np.lexsort((ci, di))[:TOP_K]
                out_q.extend([qids[qi]] * len(order))
                out_c.extend(ci[order])
                out_d.extend(di[order])
            yield pd.DataFrame(
                {"query_id": out_q, "cand_id": out_c, "adist": out_d}
            )

    codes = pq_encode(emb, cb)
    partial = codes.mapInPandas(gen, schema)
    w = W.partitionBy("query_id").orderBy("adist", "cand_id")
    return (
        partial.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            "cand_id",
            str_round6(F.col("adist")).alias("adc_dist"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def _assign_and_encode(
    emb: DataFrame, cent: DataFrame, cb, codebook=None
) -> DataFrame:
    """(vec_id, centroid_id, pq_code) in ONE shuffle-free Arrow pass —
    the IVF-PQ inverted-list row: coarse assignment (same
    dim-ordered argmax contract as ``nearest_centroid_kernel``) and
    the nibble-packed PQ code, both from the same vector batch.  At
    warehouse scale this is the row ``IvfIndex.build`` would persist
    bucketed by centroid_id, with ``pq_code`` as the payload instead
    of the raw array (128× less list storage)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from bitcoin_datawarehouse_spark.operators.embeddings_extra import (
        collect_codebook,
    )

    # codebook pass-through (r12): a caller that already collected
    # this cent frame for its probe side hands the triple in, saving
    # one driver job per query
    ids, cmat, cn = (
        codebook if codebook is not None else collect_codebook(cent)
    )
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("centroid_id", T.LongType()),
            T.StructField("pq_code", T.LongType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            emat = read_vectors(pdf["e"])
            cos, _ = cosine_grid(emat, cmat, cn)
            best = np.argmax(cos, axis=1)  # first max → smallest id
            packed = np.zeros(len(emat), dtype=np.int64)
            for m in range(PQ_M):
                sub = emat[:, m * PQ_SUB_DIM : (m + 1) * PQ_SUB_DIM]
                codes = np.argmin(_sub_d2(sub, cb[m]), axis=1)
                packed |= codes.astype(np.int64) << (4 * m)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "centroid_id": ids[best],
                    "pq_code": packed,
                }
            )

    spark = emb.sparkSession
    par = spark.sparkContext.defaultParallelism
    return emb.select("vec_id", "e").repartition(par).mapInPandas(
        gen, schema
    )


def _ivfpq_oracle() -> str:
    from bitcoin_datawarehouse_spark.operators.embeddings_extra import (
        _SQL_IVF_COMMON,
        IVF_NPROBE,
    )

    return f"""
    WITH {_SQL_IVF_COMMON},
    {_SQL_PQ_CODES},
    probes AS (
      SELECT query_id, centroid_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {SQL_COS.format(a="q", b="c")} DESC, c.vec_id
               ) AS rn
        FROM n q CROSS JOIN cent c
        WHERE q.vec_id < {N_QUERIES}
      ) WHERE rn <= {IVF_NPROBE}
    ),
    lut AS (
      SELECT q.vec_id AS query_id, c.m, c.code,
             {_SQL_D2.format(a="q.se", b="c.ce")} AS d2
      FROM sub q JOIN cb c ON c.m = q.m
      WHERE q.vec_id < {N_QUERIES}
    ),
    adc0 AS (
      SELECT p.query_id, a.vec_id AS cand_id,
             {_ADC_PIVOT}
      FROM probes p
      JOIN assign a ON a.centroid_id = p.centroid_id
                   AND a.vec_id <> p.query_id
      JOIN codes k ON k.vec_id = a.vec_id
      JOIN lut l ON l.query_id = p.query_id
               AND l.m = k.m AND l.code = k.code
      GROUP BY p.query_id, a.vec_id
    ),
    ranked AS (
      SELECT query_id, cand_id, {_ADC_TOTAL} AS adist,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY {_ADC_TOTAL}, cand_id
             ) AS rnk
      FROM adc0
    )
    SELECT query_id, cand_id,
           {SQL_STR_ROUND6("adist")} AS adc_dist,
           CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """


@query("similarity_ivfpq_topk", oracle=_ivfpq_oracle())
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the production ANN composition (the faiss IVF+PQ
    layout): coarse-probe the nprobe nearest inverted lists, then
    ADC-score ONLY those lists' members over their 4-byte codes.
    Per-query work is nprobe/K of the corpus × (8 lookups + 7 adds),
    and the scanned payload is the packed code column, not the raw
    vectors — the two scale levers (bucket pruning, 128× payload
    compression) composed.

    Metric note: coarse cells and probes use the IVF family's cosine
    contract (so the inverted lists are literally the ones
    ``similarity_ivf_topk``/``IvfIndex`` build); within a probed cell
    the ranking is ADC squared-L2 over codes — swap either half
    independently.  Plan shape: ONE corpus kernel emits (centroid_id,
    vec_id, pq_code) — the row a persisted index would store bucketed
    — the 20-row probe frame broadcasts into it, the scoring kernel
    rebuilds each query's 8×16 LUT from the closure's codebooks, and
    the final window ranks candidates×queries rows.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from bitcoin_datawarehouse_spark.operators.embeddings_extra import (
        IVF_N_CENTROIDS,
        IVF_NPROBE,
        _normed,
        probe_assignments,
    )
    from bitcoin_datawarehouse_spark.operators.embeddings_extra import (
        collect_codebook,
    )

    emb = _normed(spark, sf_dir)
    cent = emb.filter(F.col("vec_id") < IVF_N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    cb = _collect_subcodebooks(emb)
    cbk = collect_codebook(cent)
    cids, cmat, _cn = cbk

    lists = _assign_and_encode(emb, cent, cb, codebook=cbk)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    probes = probe_assignments(queries, cids, cmat, IVF_NPROBE)
    cand = lists.join(F.broadcast(probes), "centroid_id").filter(
        F.col("vec_id") != F.col("query_id")
    )

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("cand_id", T.LongType()),
            T.StructField("adist", T.DoubleType()),
        ]
    )

    def gen(batches):
        luts = {}
        for pdf in batches:
            if pdf.empty:
                continue
            out_q, out_c, out_d = [], [], []
            packed = pdf["pq_code"].to_numpy(dtype=np.int64)
            nibbles = [
                (packed >> (4 * m)) & 0xF for m in range(PQ_M)
            ]
            for qid, idx in pdf.groupby("query_id").groups.items():
                if qid not in luts:
                    qe = np.array(
                        pdf.loc[idx[0], "qe"], dtype=np.float64
                    )[None, :]
                    luts[qid] = [
                        _sub_d2(
                            qe[:, m * PQ_SUB_DIM : (m + 1) * PQ_SUB_DIM],
                            cb[m],
                        )[0]
                        for m in range(PQ_M)
                    ]
                lut = luts[qid]
                pos = pdf.index.get_indexer(idx)
                # subspace-ordered accumulation — the SQL's d0+…+d7
                total = lut[0][nibbles[0][pos]].copy()
                for m in range(1, PQ_M):
                    total = total + lut[m][nibbles[m][pos]]
                out_q.extend([int(qid)] * len(pos))
                out_c.extend(
                    pdf["vec_id"].to_numpy(dtype=np.int64)[pos]
                )
                out_d.extend(total)
            yield pd.DataFrame(
                {"query_id": out_q, "cand_id": out_c, "adist": out_d}
            )

    scored = cand.mapInPandas(gen, schema)
    w = W.partitionBy("query_id").orderBy("adist", "cand_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            "cand_id",
            str_round6(F.col("adist")).alias("adc_dist"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )
