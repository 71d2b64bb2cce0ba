"""Distributed k-means training for the IVF coarse quantizer.

``similarity_ivf_*`` (embeddings_extra.py) quantizes with a fixed,
engine-independent centroid choice (smallest vec_ids).  This module
adds the real thing — Lloyd's algorithm as pure DataFrame ops — while
keeping the result *hash-gateable* against a DuckDB oracle:

* assignment: broadcast centroids × vectors, per-vector argmax of
  cosine with a (cos DESC, centroid_id) total order — a ``min_by``
  hash aggregate Spark-side (embeddings_extra.nearest_centroid), a
  ROW_NUMBER window in the oracle; the total order makes them agree;
* update: per-(centroid, dim) mean computed as
  ``ROUND(string_routed_double(SUM(DECIMAL(38,10))) / COUNT(*), 6)`` — the
  decimal sum is order-independent and the rounded quotient is the
  same double in both engines (functions/numeric.py rationale), so
  every iteration is bit-reproducible end to end;
* the oracle unrolls the same fixed number of iterations as SQL CTEs
  (built programmatically below — k-means is a loop, SQL is not).

Scale shape: centroids are always a broadcast (K×d doubles — MBs even
at production K), vectors never leave their partitions; one shuffle
per iteration (the groupBy centroid_id partial-aggregates map-side:
64 decimal sums + a count per centroid).  Empty clusters drop out of
the groupBy in both engines identically (acceptable for a quantizer;
production k-means would re-seed them).

Cluster-ID semantics: after an update, a centroid is no longer a
corpus vector, so IDs are the 0..K-1 lineage of the seed vec_ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bitcoin_datawarehouse_spark.functions.numeric import SQL_STR_ROUND6, davg
from bitcoin_datawarehouse_spark.functions.vectors import (
    SQL_COS,
    SQL_NORMED,
    norm_col,
    sql_normed,
)
from bitcoin_datawarehouse_spark.operators.embeddings_extra import (
    IVF_N_CENTROIDS,
    _normed,
    nearest_centroid,
)
from bitcoin_datawarehouse_spark.registry import query

EMB_DIM = 64
KMEANS_ITERS = 2

#: assignment step — the IVF quantizer's argmax, shared so tie-break /
#: NaN semantics can never diverge between training and search
assign_to_centroids = nearest_centroid


def update_centroids(emb: DataFrame, assigned: DataFrame) -> DataFrame:
    """New centroids = per-dim rounded decimal mean of each cluster's
    members (``davg``: the embedding arrays are dense, so the non-null
    count equals COUNT(*) in the oracle).  One shuffle; the 64 decimal
    sums partial-aggregate map-side."""
    member = assigned.join(emb, "vec_id").select("centroid_id", "e")
    dims = [davg(F.col("e")[i], f"d{i}") for i in range(EMB_DIM)]
    upd = member.groupBy("centroid_id").agg(*dims)
    ce = F.array(*[F.col(f"d{i}") for i in range(EMB_DIM)])
    return upd.select(
        "centroid_id", ce.alias("ce")
    ).withColumn("cn", norm_col(F.col("ce")))


def kmeans_fit(
    emb: DataFrame, k: int = IVF_N_CENTROIDS, iters: int = KMEANS_ITERS
) -> DataFrame:
    """Lloyd's k-means over (vec_id, e, nrm); returns (centroid_id,
    ce, cn).  Deterministic seed: the k smallest vec_ids."""
    cent = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cn"),
    )
    for _ in range(iters):
        cent = update_centroids(emb, assign_to_centroids(emb, cent))
    return cent


def _sql_assign(name: str, cent: str) -> str:
    """Assignment CTE: every vector → nearest centroid of ``cent``."""
    cos = SQL_COS.format(a="x", b="c")
    return f"""{name} AS (
      SELECT vec_id, cid FROM (
        SELECT x.vec_id, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY x.vec_id ORDER BY {cos} DESC, c.cid
               ) AS rn
        FROM n x CROSS JOIN {cent} c
      ) WHERE rn = 1
    )"""


def _sql_update(name: str, assign: str) -> str:
    """Update CTEs: per-(cid, dim) rounded decimal mean → list + norm.

    The 6-dp surface goes through SQL_STR_ROUND6 (not a hand-inlined
    cast chain) so its tiny-value guard applies: per-dimension centroid
    means can legitimately land in |v| < 1e-7, exactly where DuckDB's
    scientific-notation decimal parse misrounds."""
    mean = (
        "CAST(CAST(SUM(CAST(CAST(el.x AS STRING) AS DECIMAL(38,10)))"
        " AS STRING) AS DOUBLE) / COUNT(*)"
    )
    return f"""{name}_u AS (
      SELECT a.cid, el.i,
             {SQL_STR_ROUND6(mean)} AS m
      FROM {assign} a JOIN el ON el.vec_id = a.vec_id
      GROUP BY a.cid, el.i
    ),
    {name}_e AS (
      SELECT cid, list(m ORDER BY i) AS e FROM {name}_u GROUP BY cid
    ),
    {sql_normed(name, name + "_e")}"""


def _kmeans_oracle(k: int, iters: int) -> str:
    """Unroll ``iters`` Lloyd steps as CTEs; final SELECT is the
    assignment under the trained centroids."""
    parts = [
        f"""el AS (
      SELECT vec_id, generate_subscripts(e, 1) AS i, unnest(e) AS x
      FROM n
    ),
    c0 AS (SELECT vec_id AS cid, e, nrm FROM n WHERE vec_id < {k})"""
    ]
    for it in range(iters):
        parts.append(_sql_assign(f"a{it}", f"c{it}"))
        parts.append(_sql_update(f"c{it + 1}", f"a{it}"))
    parts.append(_sql_assign("afinal", f"c{iters}"))
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {SQL_NORMED},
    {ctes}
    SELECT vec_id, cid AS centroid_id FROM afinal
    """


@query("similarity_ivf_kmeans_assign", oracle=_kmeans_oracle(IVF_N_CENTROIDS, KMEANS_ITERS))
def similarity_ivf_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization under a *trained* quantizer: run
    KMEANS_ITERS Lloyd steps, then assign every vector to its nearest
    trained centroid.

    Replaces the fixed-centroid stand-in as the quality path; the
    inverted-list/probe/rerank machinery (similarity_ivf_topk) is
    unchanged — at scale the trained centroids are written once and
    broadcast at search time.
    """
    emb = _normed(spark, sf_dir)
    cent = kmeans_fit(emb, IVF_N_CENTROIDS, KMEANS_ITERS)
    return assign_to_centroids(emb, cent)
