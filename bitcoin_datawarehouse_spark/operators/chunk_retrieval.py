"""Chunk-level ANN retrieval — the RAG serving loop composed from
three gated parts (r8 VERDICT item 4): sliding-window chunking
(``text_chunk_windows``), a deterministic chunk featurizer (the
SQL-expressible stub-featurizer discipline of
``multimodal_feature_extract``), and the persisted bucketed IVF index
(``operators/ivf_index.py``), finished with the per-doc best-chunk
reduction every retrieval stack runs between chunk hits and document
results.

Pipeline (one registered gate, ``similarity_chunk_retrieval``):

1. **Chunk** — the registered ``text_chunk_windows`` frame verbatim
   (the composite-oracle precedent: its CTE is embedded unchanged, so
   this composite can never drift from what the chunking gate proves).
2. **Embed** — per chunk a ``CHUNK_EMB_DIM``-bin token-hash TF vector:
   dim(token) = first md5 byte of the token mod D, value = token
   count in the chunk.  One Arrow kernel over the chunk frame
   (hashlib md5 ≡ SQL md5, integer counts → the vector is EXACT, so
   the only float surface is the cosine fold both engines share).
   Deliberately SQL-expressible — a production encoder swaps in at
   this step and the gate falls back rows-only, exactly the
   multimodal featurizer contract.
3. **Index** — chunk vectors get composite ids
   ``vec_id = doc_id · 2²⁰ + chunk_ix`` and build the persisted
   bucketed ``IvfIndex`` (scratch-warehouse discipline of
   ``similarity_ivf_index_topk``).  Centroids are the
   ``IVF_N_CENTROIDS`` smallest vec_ids selected BY RANK
   (TakeOrdered), never a ``< K`` value window — chunk ids are sparse
   by construction and scaled fixtures stride doc_ids (the CLAUDE.md
   codebook rule).
4. **Serve** — the query workload is the FIRST chunk (chunk_ix = 0)
   of the ``N_CHUNK_QUERY_DOCS`` smallest doc_ids (rank-selected);
   ``IvfIndex.search(..., exclude_group_div=2²⁰)`` drops the query's
   own document IN the candidate join (slots are never wasted on
   self-hits), probes ``IVF_NPROBE`` lists, and reranks top
   ``TOP_K`` chunks with the shared dim-ordered kernel.
5. **Reduce** — chunk hits collapse to documents: per (query, doc)
   keep the best chunk (cosine desc, chunk_ix asc), then rank docs
   per query (cosine desc, doc_id asc).  ``start_tok`` is
   reconstructed arithmetically (chunk_ix · CHUNK_STRIDE — exact by
   the chunking contract), so every result row maps back to its
   source span without a join (pinned in pytest against the actual
   chunk frame).

Scale: chunking is map-only, the featurizer is one Arrow pass, the
index build is the one corpus-sized exchange (paid once, bucketed by
centroid so every later search bucket-prunes), and serving cost is
probed-lists-sized per query — the same 100 TB shape as the vector
gates, now over a corpus that is chunks (≈ tokens/stride per doc)
rather than documents.

Oracle: the full chain in SQL — the chunk CTE verbatim, the
featurizer as UNNEST + md5-byte GROUP BY + an ordered zero-filled
``list()``, then the IVF CTE skeleton of ``_ivf_topk_oracle`` over
the chunk vectors with the doc-exclusion predicate, and the two-level
reduction windows.  Every count is an integer and every cosine rides
the pinned cross-engine fold, so the gate hash-checks end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from bitcoin_datawarehouse_spark import registry as _registry
from bitcoin_datawarehouse_spark.functions.vectors import (
    SQL_COS,
    cosine_grid,
    dim_ordered_norms,
    read_vectors,
    sql_normed,
)
from bitcoin_datawarehouse_spark.operators.embeddings_extra import (
    IVF_N_CENTROIDS,
    IVF_NPROBE,
)
from bitcoin_datawarehouse_spark.operators.similarity import TOP_K
from bitcoin_datawarehouse_spark.operators.text_stats import (
    CHUNK_STRIDE,
    text_chunk_windows,
)
from bitcoin_datawarehouse_spark.registry import query

#: token-hash TF dimensions of the stub chunk featurizer
CHUNK_EMB_DIM = 16
#: chunk ids compose as doc_id * CHUNK_VEC_MOD + chunk_ix
CHUNK_VEC_MOD = 1 << 20
#: how many (smallest, by rank) doc_ids contribute their first chunk
#: as the query workload
N_CHUNK_QUERY_DOCS = 5


def chunk_vectors_frame(chunks: DataFrame) -> DataFrame:
    """(vec_id, e) token-hash TF vectors from any
    (doc_id, chunk_ix, chunk_text) chunk frame — one Arrow kernel.
    dim(token) = first md5 byte mod ``CHUNK_EMB_DIM`` (hashlib ≡ SQL
    md5), value = count — integer-exact, so the vector itself has no
    float surface.  Shared by the fixture gates and the streaming
    curation ingest's chunk-indexing stage."""
    import hashlib

    keyed = chunks.select(
        (
            F.col("doc_id") * F.lit(CHUNK_VEC_MOD) + F.col("chunk_ix")
        ).alias("vec_id"),
        "chunk_text",
    )

    def gen(batches):
        import pandas as pd

        dim_memo: dict[str, int] = {}

        def dim(tok: str) -> int:
            d = dim_memo.get(tok)
            if d is None:
                d = hashlib.md5(tok.encode()).digest()[0] % CHUNK_EMB_DIM
                dim_memo[tok] = d
            return d

        for pdf in batches:
            ids, vecs = [], []
            for vid, text in zip(pdf["vec_id"], pdf["chunk_text"]):
                v = [0.0] * CHUNK_EMB_DIM
                for tok in text.split(" "):
                    v[dim(tok)] += 1.0
                ids.append(vid)
                vecs.append(v)
            yield pd.DataFrame({"vec_id": ids, "e": vecs})

    return keyed.mapInPandas(gen, "vec_id bigint, e array<double>")


def chunk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, e) for every fixture chunk — the gate-side instance
    of :func:`chunk_vectors_frame` over the registered chunk frame."""
    return chunk_vectors_frame(text_chunk_windows(spark, sf_dir))


def _build_chunk_index(spark: SparkSession, sf_dir: str):
    """Shared build half of the chunk gates: featurize (cached),
    rank-select centroids, build the persisted index, derive the
    query workload.  Returns ``(idx, emb, queries)``."""
    from bitcoin_datawarehouse_spark.operators.ivf_index import IvfIndex
    from bitcoin_datawarehouse_spark.pipeline.catalog import (
        Warehouse,
        scratch_root,
    )

    from bitcoin_datawarehouse_spark.functions.cachereg import (
        cache_tracked,
    )

    # the featurizer kernel feeds FOUR actions of the build+serve
    # sequence (centroid TakeOrdered, codebook write, lists write,
    # query selection) — cache_tracked + eager fill per the CLAUDE.md
    # shared-subgraph rule (released centrally by bench/check_oracle;
    # production builds once and serves from the persisted index)
    emb = cache_tracked(chunk_embeddings(spark, sf_dir))
    emb.count()

    # centroids BY RANK of vec_id (TakeOrdered — never a `< K` value
    # window over sparse composite ids; CLAUDE.md codebook rule)
    cent = (
        emb.orderBy("vec_id")
        .limit(IVF_N_CENTROIDS)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("e").alias("ce"),
        )
    )

    # residue/concurrency rules owned by catalog.scratch_root
    scratch = scratch_root("bds_chunkivf", sf_dir)
    idx = IvfIndex(
        Warehouse(spark, scratch),
        schema="ann_index",
        name="chunks",
        nprobe=IVF_NPROBE,
    )
    idx.build(emb, centroids=cent)

    # query workload: the chunk_ix = 0 vector of the N smallest
    # doc_ids — rank-selected (TakeOrdered), query_id = vec_id
    queries = (
        emb.filter(F.col("vec_id") % CHUNK_VEC_MOD == 0)
        .orderBy("vec_id")
        .limit(N_CHUNK_QUERY_DOCS)
        .select(
            F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
        )
    )
    return idx, emb, queries


def _chunk_retrieval_serve(idx, queries: DataFrame) -> DataFrame:
    """The SERVE half — bucket-pruned search + the two-window doc
    reduction — over an already-BUILT index (production amortizes the
    build across queries; tools/probe_chunk_serve.py times this half
    in isolation, r9 VERDICT item 5)."""
    hits = idx.search(
        queries,
        top_k=TOP_K,
        exclude_self=False,
        exclude_group_div=CHUNK_VEC_MOD,
        # the workload is rank-limited to N_CHUNK_QUERY_DOCS rows —
        # a static upper bound, so search skips its row-count job
        n_queries=N_CHUNK_QUERY_DOCS,
    )

    # reduce: best chunk per (query, doc), then rank docs per query
    per_doc = hits.select(
        F.expr(f"query_id DIV {CHUNK_VEC_MOD}").alias("query_doc"),
        F.expr(f"cand_id DIV {CHUNK_VEC_MOD}").alias("doc_id"),
        (F.col("cand_id") % CHUNK_VEC_MOD).alias("chunk_ix"),
        "cosine",
    )
    w_best = W.partitionBy("query_doc", "doc_id").orderBy(
        F.col("cosine").desc(), F.col("chunk_ix")
    )
    w_rank = W.partitionBy("query_doc").orderBy(
        F.col("cosine").desc(), F.col("doc_id")
    )
    return (
        per_doc.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .withColumn("rnk", F.row_number().over(w_rank))
        .select(
            F.col("query_doc").cast("bigint").alias("query_doc"),
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("chunk_ix").cast("bigint").alias("chunk_ix"),
            (F.col("chunk_ix") * CHUNK_STRIDE)
            .cast("bigint")
            .alias("start_tok"),
            "cosine",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def _chunk_retrieval_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx, _emb, queries = _build_chunk_index(spark, sf_dir)
    return _chunk_retrieval_serve(idx, queries)


def _chunk_ivf_ctes() -> str:
    """The shared WITH-chain of the chunk gates: chunk CTE verbatim →
    token-hash TF vectors → IVF (rank-selected centroids, assignment,
    query set, probes, doc-excluded candidates, cosine-reranked
    ``chunk_hits``) — reused by the retrieval gate and the recall
    gate so the two can never disagree on the search semantics."""
    chunks_sql = _registry.ORACLES["text_chunk_windows"]
    D = CHUNK_EMB_DIM
    M = CHUNK_VEC_MOD
    byte0 = (
        "((instr('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 16"
        " + (instr('0123456789abcdef', substr(md5(t), 2, 1)) - 1))"
    )
    cos = SQL_COS
    return f"""chv AS (
      SELECT doc_id * {M} + chunk_ix AS vec_id, chunk_text
      FROM ({chunks_sql})
    ),
    ctoks AS (
      SELECT vec_id, unnest(string_split(chunk_text, ' ')) AS t
      FROM chv
    ),
    ccnt AS (
      SELECT vec_id, {byte0} % {D} AS dim, COUNT(*) AS cnt
      FROM ctoks GROUP BY 1, 2
    ),
    dims AS (SELECT unnest(generate_series(0, {D - 1})) AS dim),
    cvec AS (
      SELECT v.vec_id,
             list(CAST(COALESCE(c.cnt, 0) AS DOUBLE) ORDER BY d.dim)
               AS e
      FROM (SELECT DISTINCT vec_id FROM chv) v
      CROSS JOIN dims d
      LEFT JOIN ccnt c ON c.vec_id = v.vec_id AND c.dim = d.dim
      GROUP BY v.vec_id
    ),
    {sql_normed("n", "cvec")},
    cent AS (SELECT * FROM n ORDER BY vec_id LIMIT {IVF_N_CENTROIDS}),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT x.vec_id, c.vec_id AS centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY {cos.format(a="x", b="c")} DESC, c.vec_id
               ) AS rn
        FROM n x CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    qset AS (
      SELECT * FROM n
      WHERE vec_id % {M} = 0
      ORDER BY vec_id LIMIT {N_CHUNK_QUERY_DOCS}
    ),
    probes AS (
      SELECT query_id, centroid_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {cos.format(a="q", b="c")} DESC, c.vec_id
               ) AS rn
        FROM qset q CROSS JOIN cent c
      ) WHERE rn <= {IVF_NPROBE}
    ),
    cands AS (
      SELECT DISTINCT p.query_id, a.vec_id AS cand_id
      FROM probes p
      JOIN assign a ON a.centroid_id = p.centroid_id
      WHERE a.vec_id // {M} <> p.query_id // {M}
    ),
    chunk_hits AS (
      SELECT query_id, cand_id, cosine FROM (
        SELECT cd.query_id, cd.cand_id,
               {cos.format(a="q", b="c")} AS cosine,
               ROW_NUMBER() OVER (
                 PARTITION BY cd.query_id
                 ORDER BY {cos.format(a="q", b="c")} DESC, cd.cand_id
               ) AS rnk
        FROM cands cd
        JOIN n q ON q.vec_id = cd.query_id
        JOIN n c ON c.vec_id = cd.cand_id
      ) WHERE rnk <= {TOP_K}
    )"""


def _chunk_retrieval_oracle() -> str:
    """The retrieval gate's SQL: the shared chain plus the two-level
    per-doc reduction."""
    M = CHUNK_VEC_MOD
    return f"""
    WITH {_chunk_ivf_ctes()},
    per_doc AS (
      SELECT query_id // {M} AS query_doc,
             cand_id // {M} AS doc_id,
             cand_id % {M} AS chunk_ix,
             cosine,
             ROW_NUMBER() OVER (
               PARTITION BY query_id // {M}, cand_id // {M}
               ORDER BY cosine DESC, cand_id % {M}
             ) AS rn
      FROM chunk_hits
    )
    SELECT CAST(query_doc AS BIGINT) AS query_doc,
           CAST(doc_id AS BIGINT) AS doc_id,
           CAST(chunk_ix AS BIGINT) AS chunk_ix,
           CAST(chunk_ix * {CHUNK_STRIDE} AS BIGINT) AS start_tok,
           cosine,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_doc ORDER BY cosine DESC, doc_id
           ) AS INT) AS rnk
    FROM per_doc WHERE rn = 1
    """


@query("similarity_chunk_retrieval")
def similarity_chunk_retrieval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chunk-level retrieval end to end: chunk → embed → persisted
    IVF index → per-query top-chunk search (own document excluded) →
    per-doc best-chunk reduction.  Full design + oracle notes in the
    module docstring; (query_doc, doc_id, chunk_ix, start_tok,
    cosine, rnk) per result document."""
    return _chunk_retrieval_impl(spark, sf_dir)


_registry.ORACLES["similarity_chunk_retrieval"] = (
    _chunk_retrieval_oracle()
)


@query("similarity_chunk_recall")
def similarity_chunk_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the chunk IVF search against exact brute force —
    the retrieval-quality observable for the chunk index (the
    similarity_ivf_recall discipline applied to the new family):
    per query document, how many of the true top-``TOP_K``
    out-of-document chunks the probed-lists search returned.

    Brute force runs as the partial-top-k Arrow kernel (the
    similarity_bruteforce_topk shape: the 5-query workload rides the
    closure, each partition emits its per-query winners, one bounded
    window finishes) over the SAME cached chunk vectors the index was
    built from; the IVF side is the persisted index's own search.
    Cosines on both sides accumulate dim-ordered, so the top-k sets —
    and therefore the integer intersection counts — are exact
    cross-engine."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from bitcoin_datawarehouse_spark.functions.numeric import str_round6

    idx, emb, queries = _build_chunk_index(spark, sf_dir)
    hits = idx.search(
        queries,
        top_k=TOP_K,
        exclude_self=False,
        exclude_group_div=CHUNK_VEC_MOD,
        n_queries=N_CHUNK_QUERY_DOCS,
    ).select("query_id", "cand_id")

    qrows = sorted(queries.collect(), key=lambda r: r["query_id"])
    qids = np.array([int(r["query_id"]) for r in qrows], dtype=np.int64)
    qmat = read_vectors(r["qe"] for r in qrows)
    qn = dim_ordered_norms(qmat)
    qdoc = qids // CHUNK_VEC_MOD

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("cand_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            cand = pdf["vec_id"].to_numpy(dtype=np.int64)
            cmat = read_vectors(pdf["e"])
            cos, _ = cosine_grid(cmat, qmat, qn)
            cdoc = cand // CHUNK_VEC_MOD
            out_q, out_c, out_s = [], [], []
            for qi in range(len(qids)):
                keep = cdoc != qdoc[qi]  # own-document exclusion
                ci, si = cand[keep], cos[keep, qi]
                order = np.lexsort((ci, -si))[:TOP_K]
                out_q.extend([qids[qi]] * len(order))
                out_c.extend(ci[order])
                out_s.extend(si[order])
            yield pd.DataFrame(
                {"query_id": out_q, "cand_id": out_c, "cosine": out_s}
            )

    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    bf = (
        emb.mapInPandas(gen, schema)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "cand_id")
    )
    common = (
        bf.join(hits, ["query_id", "cand_id"], "semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    return (
        queries.select("query_id")
        .join(common, "query_id", "left")
        .select(
            F.expr(f"query_id DIV {CHUNK_VEC_MOD}")
            .cast("bigint")
            .alias("query_doc"),
            F.coalesce(F.col("n_common"), F.lit(0))
            .cast("bigint")
            .alias("n_common"),
            str_round6(
                F.coalesce(F.col("n_common"), F.lit(0)).cast("double")
                / F.lit(float(TOP_K))
            ).alias("recall"),
        )
    )


def _chunk_recall_oracle() -> str:
    from bitcoin_datawarehouse_spark.functions.numeric import (
        SQL_STR_ROUND6,
    )

    M = CHUNK_VEC_MOD
    cos = SQL_COS
    return f"""
    WITH {_chunk_ivf_ctes()},
    bf AS (
      SELECT query_id, cand_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {cos.format(a="q", b="c")} DESC, c.vec_id
               ) AS rnk
        FROM qset q JOIN n c ON c.vec_id // {M} <> q.vec_id // {M}
      ) WHERE rnk <= {TOP_K}
    ),
    common AS (
      -- driven from qset (not bf): a query with ZERO out-of-document
      -- chunks must still emit a (query, 0) row, matching the Spark
      -- side's left join from the query frame (review-caught latent
      -- row-set divergence on degenerate corpora)
      SELECT q.vec_id AS query_id,
             CAST(COUNT(h.cand_id) AS BIGINT) AS n_common
      FROM qset q
      LEFT JOIN bf b ON b.query_id = q.vec_id
      LEFT JOIN chunk_hits h
        ON h.query_id = b.query_id AND h.cand_id = b.cand_id
      GROUP BY q.vec_id
    )
    SELECT CAST(query_id // {M} AS BIGINT) AS query_doc,
           n_common,
           {SQL_STR_ROUND6(f"CAST(n_common AS DOUBLE) / {TOP_K}")}
             AS recall
    FROM common
    """


_registry.ORACLES["similarity_chunk_recall"] = _chunk_recall_oracle()
