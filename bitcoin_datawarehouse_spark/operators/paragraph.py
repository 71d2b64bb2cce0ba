"""Paragraph-level exact dedup (CCNet / RefinedWeb-style).

The canonical *sub-document* dedup stage of an LLM data pipeline:
boilerplate paragraphs (navigation text, licence headers, cookie
banners) repeat across millions of pages, so documents are split into
paragraphs, every paragraph is hashed, and only the globally FIRST
occurrence of each distinct paragraph is kept — later occurrences are
dropped *in place* and the surviving paragraphs are re-assembled into
the cleaned document (CCNet dedups paragraph hashes across shards;
RefinedWeb/Dolma run the same rule at line granularity).  This is
complementary to the whole-document (``dedup_exact_docs``) and
near-dup (MinHash) families: it removes *partial* overlap that
neither catches.

Segmentation: production splits on ``'\\n\\n'`` (or lines on
``'\\n'``); the synthetic fixture corpus is single-spaced word soup
with no newlines, so the registered queries segment into fixed
``PARA_W``-token chunks — a deterministic stand-in that exercises the
identical dedup/reassembly semantics and is expressible in both
engines.  The chunker is an Arrow ``mapInPandas`` kernel (NOT a
``transform``/``slice`` higher-order expression: the interpreted HOF
tree re-evaluates ``split(text)`` per element, the same
CollapseProject duplication class ``test_text_metric_plans_
tokenize_at_most_once`` pins elsewhere), emitting one row per
paragraph with its md5 and a fixed-width ``(doc_id, pos)`` key.

Plan shape (scale story):

* kernel pass — embarrassingly parallel, output ∝ corpus text;
* ONE shuffle on the paragraph hash for the global-first-occurrence
  window (``MIN(k) OVER (PARTITION BY h)`` — no self-join, no second
  scan of the kernel output, nothing to cache);
* ONE shuffle on ``doc_id`` to re-assemble survivors in order.

Skew note: a boilerplate paragraph duplicated 10^8 times puts all its
copies in one window partition.  The fix at that scale is the same
hot-hash broadcast cap the substring family already implements
(``substring.py`` hot-cap: route over-threshold hashes through a
broadcast semi-join); the window form is kept here because the
per-hash aggregate is a single MIN — the partition is scanned once,
not materialized quadratically.  MEASURED (r10 VERDICT item 4,
SCALING.md "Hot-key skew in the curation composites"): with a
planted hot paragraph in 50% of 500k docs (1M copies in one window
partition) the window plan runs 3.9 s vs 4.4 s for a partial-agg+join
rewrite — the linear single-pass scan is immune at any fixture we can
generate; the broadcast-cap escalation stays the 10^8-copy contingency.

First-occurrence key: fixed-width ``lpad(doc_id)||lpad(pos)`` string
(the composite-key rule from the winnowed-substring oracle — never an
engine's undocumented tie order).

Reference parity: the reference repo has no sub-document operators at
all (its transforms are per-column ``UPPER`` renames,
``column_transform.yaml:2-50``); this module is part of the
north-star LLM-pipeline extension family (SURVEY.md §2.12).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from bitcoin_datawarehouse_spark.functions.numeric import (
    SQL_STR_ROUND6,
    str_round6,
)
from bitcoin_datawarehouse_spark.registry import query
from bitcoin_datawarehouse_spark.tables import load_table

#: tokens per synthetic "paragraph" chunk (production: split on
#: blank lines instead; the dedup semantics downstream are identical)
PARA_W = 12

_PARA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("pos", LongType()),
        StructField("para", StringType()),
        StructField("h", StringType()),
        StructField("k", StringType()),
    ]
)

#: shared oracle CTE: segmentation + hash + fixed-width key + the
#: global-first-occurrence flag, mirroring the kernel + window pass
_SQL_PARAS = f"""
para_base AS (
  SELECT doc_id, source, string_split(text, ' ') AS arr FROM documents
),
para_rows AS (
  SELECT doc_id, source, i AS pos,
         array_to_string(arr[i*{PARA_W}+1 : i*{PARA_W}+{PARA_W}], ' ') AS para
  FROM para_base,
       UNNEST(range(greatest(CAST(ceil(len(arr)/{PARA_W}.0) AS BIGINT), 1))) AS t(i)
),
para_keyed AS (
  SELECT doc_id, source, pos, para, md5(para) AS h,
         lpad(CAST(doc_id AS VARCHAR), 10, '0')
           || lpad(CAST(pos AS VARCHAR), 6, '0') AS k
  FROM para_rows
),
para_kept AS (
  SELECT doc_id, source, pos, para,
         k = MIN(k) OVER (PARTITION BY h) AS keep
  FROM para_keyed
)
"""


def paragraph_rows_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, source, pos, para, h, k) — one row per chunk.

    One Arrow kernel pass; the per-doc loop finishes segmentation AND
    hashing in-kernel (no corpus-wide token explode, no HOF tree).
    ``docs`` needs (doc_id, source, text).
    """

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out = {f.name: [] for f in _PARA_SCHEMA.fields}
            for did, src, txt in zip(pdf["doc_id"], pdf["source"], pdf["text"]):
                toks = txt.split(" ")
                n_chunks = max((len(toks) + PARA_W - 1) // PARA_W, 1)
                for pos in range(n_chunks):
                    para = " ".join(toks[pos * PARA_W : (pos + 1) * PARA_W])
                    out["doc_id"].append(did)
                    out["source"].append(src)
                    out["pos"].append(pos)
                    out["para"].append(para)
                    out["h"].append(hashlib.md5(para.encode()).hexdigest())
                    out["k"].append(f"{did:010d}{pos:06d}")
            yield pd.DataFrame(out)

    par = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.select("doc_id", "source", "text")
        .repartition(par)
        .mapInPandas(gen, _PARA_SCHEMA)
    )


def with_keep_frame(docs: DataFrame) -> DataFrame:
    """Kernel output + the global-first-occurrence ``keep`` flag."""
    paras = paragraph_rows_frame(docs)
    return paras.withColumn(
        "keep", F.col("k") == F.min("k").over(W.partitionBy("h"))
    )


def _with_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_keep_frame(load_table(spark, sf_dir, "documents"))


@query(
    "dedup_paragraphs",
    oracle=f"""
    WITH {_SQL_PARAS}
    SELECT doc_id,
      COUNT(*) AS n_paras,
      CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      md5(COALESCE(
        string_agg(CASE WHEN keep THEN para END, chr(10) ORDER BY pos),
        '')) AS dedup_md5
    FROM para_kept
    GROUP BY doc_id
    """,
)
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc paragraph dedup: counts + md5 of the re-assembled text.

    ``dedup_md5`` hashes the surviving paragraphs joined by ``\\n`` in
    document order — the byte-exact digest twin of the cleaned
    document (same digest-twin pattern as the multimodal family: the
    gate proves the reassembly byte-for-byte without shipping the
    full text through the compare harness).
    """
    return dedup_paragraphs_frame(
        load_table(spark, sf_dir, "documents")
    )


def dedup_paragraphs_frame(docs: DataFrame) -> DataFrame:
    kept = with_keep_frame(docs)
    surviving = F.array_sort(
        F.collect_list(F.when(F.col("keep"), F.struct("pos", "para")))
    )
    return kept.groupBy("doc_id").agg(
        F.count("*").alias("n_paras"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.md5(
            F.concat_ws(
                "\n", F.transform(surviving, lambda x: x["para"])
            ).cast("binary")
        ).alias("dedup_md5"),
    )


@query(
    "dedup_paragraphs_by_source",
    oracle=f"""
    WITH {_SQL_PARAS}
    SELECT source,
      COUNT(*) AS n_paras,
      CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      {SQL_STR_ROUND6(
          "1.0 - CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)"
          " / COUNT(*)")} AS dup_ratio
    FROM para_kept
    GROUP BY source
    """,
)
def dedup_paragraphs_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Boilerplate profile per source: duplicate-paragraph ratio.

    The curation dashboard view: which ingest source carries the most
    repeated boilerplate.  Integer-ratio quotient → ``str_round6``
    (the exact-1e-6-tie rule; never native ROUND(double, 6)).
    """
    kept = _with_keep(spark, sf_dir)
    n_kept = F.sum(F.when(F.col("keep"), 1).otherwise(0))
    return kept.groupBy("source").agg(
        F.count("*").alias("n_paras"),
        n_kept.cast("long").alias("n_kept"),
        str_round6(
            F.lit(1.0) - n_kept.cast("double") / F.count("*")
        ).alias("dup_ratio"),
    )
