"""The FULL LLM-curation pipeline composed end to end (r7 VERDICT
item 2): Gopher quality → exact dedup → MinHash-LSH near-dup →
SemDeDup → benchmark decontamination → temperature mixture sampling →
split + sequence packing — one registered gate query whose oracle
chains the REGISTERED oracle texts of every stage (the
similarity_ivf_recall textual-reuse precedent: the composite can
never drift from what its stages individually gate).

Stage semantics and the restriction arguments that keep the oracle
exact:

* Per-doc stages (Gopher rules, decontam flags, n_tokens, split
  bucket) are pure functions of one document — computing them over
  the full corpus and filtering, or over survivors directly, is the
  same thing.
* Exact dedup MUST run over the quality survivors (which copy is
  canonical depends on which copies survived) — it does, as a
  row_number window over md5(text) exactly like
  ``trainprep_corpus_pipeline``.
* MinHash-LSH pairs restrict exactly: band keys are per-doc, the
  candidate join is pairwise, and verification is pairwise — so
  pairs(survivors) = pairs(full corpus) ∩ survivors².  The Spark plan
  runs the kernel over SURVIVORS ONLY (the production-right choice:
  no shingle work for already-dropped docs) while the oracle reuses
  the registered full-corpus pair text and intersects — identical
  results by the restriction argument.  Drop rule: a doc is dropped
  when a verified pair partner with a SMALLER id also survived the
  previous stages (the greedy pairwise rule; the transitive-closure
  variant is ``dedup_canonical_docs``).
* SemDeDup keep/drop flags are corpus-level properties of the
  EMBEDDING table (its own artifact, sized by the embedded subset) —
  the stage applies the flags of ``dedup_semantic_semdedup_auto``
  verbatim; docs without an embedding pass through.
* Temperature mixture (α = 0.5, the sqrt-is-correctly-rounded choice
  from ``trainprep_mixture_temperature``) is computed over the
  SURVIVING docs — rebalancing what remains is the point — with the
  doc budget B = ⌊3·|survivors|/5⌋ integer-exact in both engines, and
  per-doc acceptance by a SALTED md5 uniform (u = md5('mix'‖doc_id)
  nibbles / 2³²; the split bucket uses the UNSALTED hash's first two
  nibbles, so an unsalted u would make sampling truncate the split
  space — every sampled doc would land in 'train').
* Packing = the ``trainprep_corpus_pipeline`` tail, partitioned by
  (split, domain).

Plan hygiene (the CLAUDE.md shared-subgraph rules, applied twice):
the stage-2 survivor frame feeds the shingle kernel AND the stage-3
continuation — cache_tracked + eager fill; the stage-5 survivor frame
feeds the domain-count aggregate AND the per-doc sampling filter —
cache_tracked + eager fill, TEXT ALREADY DROPPED so the cache is
doc-id-sized, not corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from bitcoin_datawarehouse_spark import registry as _registry
from bitcoin_datawarehouse_spark.functions.cachereg import cache_tracked
from bitcoin_datawarehouse_spark.functions.numeric import DEC, SQL_DEC
from bitcoin_datawarehouse_spark.operators import curation as _cur
from bitcoin_datawarehouse_spark.operators import dedup as _dd
from bitcoin_datawarehouse_spark.operators import semdedup as _sd  # noqa: F401
from bitcoin_datawarehouse_spark.operators import trainprep as _tp
from bitcoin_datawarehouse_spark.operators.bpe import (
    BPE_MERGE_ROUNDS,
    bpe_apply_kernel,
    bpe_train_auto,
    bpe_word_table,
)
from bitcoin_datawarehouse_spark.operators.curation import (
    EVAL_MOD,
    decontam_ngram_overlap,
    gopher_keep_col,
    gopher_metrics_frame,
)
from bitcoin_datawarehouse_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    minhash_pairs_from_sets,
    shingle_sets_frame,
)
from bitcoin_datawarehouse_spark.operators.semdedup import (
    dedup_semantic_semdedup_auto,
)
from bitcoin_datawarehouse_spark.operators.trainprep import (
    PACK_BUDGET,
    SPLIT_TRAIN_MAX,
    SPLIT_VAL_MAX,
    _TEMP_DOMAIN_SQL,
)
from bitcoin_datawarehouse_spark.registry import query
from bitcoin_datawarehouse_spark.tables import load_table

#: mixture doc budget as a fraction of the surviving corpus — 3/5,
#: kept INTEGER-exact (B = (n·3) DIV 5) so both engines agree bit-free
MIX_NUM, MIX_DEN = 3, 5

#: salted uniform for mixture acceptance (module docstring: the split
#: bucket reads the UNSALTED hash, so sampling must not)
_SALTED_NIB_SQL = (
    "(instr('0123456789abcdef', substr(md5('mix' ||"
    " CAST(doc_id AS VARCHAR)), {i}, 1)) - 1)"
)
_SALTED_U32_SQL = " + ".join(
    f"{_SALTED_NIB_SQL.format(i=i + 1)} * {16 ** (7 - i)}"
    for i in range(8)
)

_N_TOKENS_SQL = (
    r"CAST(len(regexp_extract_all(lower(text),"
    r" '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT)"
)


def _curation_ctes(
    quality_sql: str | None = None, keep_col: str = "keep"
) -> str:
    """The shared WITH-chain of the composite's oracles (stages s1…s6
    plus the mixture CTEs) — reused by the packed-output gate and the
    funnel gate so the two can never disagree on stage semantics.

    ``quality_sql``/``keep_col`` swap the stage-1 gate (default: the
    registered Gopher oracle) — the SQL twin of
    ``_curation_stage_frames``'s ``quality_keep`` hook, used by the
    classifier-gated composite.  Stages 2-7 compose verbatim either
    way (only s1 membership changes; the restriction arguments are
    membership-based, so they hold unchanged)."""
    O = _registry.ORACLES
    if quality_sql is None:
        quality_sql = O["text_gopher_rules"]
    return f"""gq AS ({quality_sql}),
    s1 AS (
      SELECT d.doc_id, d.text, d.source
      FROM documents d JOIN gq ON gq.doc_id = d.doc_id
      WHERE gq.{keep_col}
    ),
    canon AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY md5(text) ORDER BY doc_id
             ) AS rn
      FROM s1
    ),
    s2 AS (
      SELECT s1.doc_id, s1.text, s1.source, {_N_TOKENS_SQL} AS n_tokens
      FROM s1 JOIN canon c ON c.doc_id = s1.doc_id AND c.rn = 1
    ),
    mh AS ({O["dedup_minhash_lsh"]}),
    drops3 AS (
      SELECT DISTINCT m.doc_b AS doc_id
      FROM mh m
      JOIN s2 a ON a.doc_id = m.doc_a
      JOIN s2 b ON b.doc_id = m.doc_b
      WHERE m.jaccard >= {JACCARD_THRESHOLD}
    ),
    s3 AS (
      SELECT doc_id, source, n_tokens FROM s2
      WHERE doc_id NOT IN (SELECT doc_id FROM drops3)
    ),
    sem AS ({O["dedup_semantic_semdedup_auto"]}),
    s4 AS (
      SELECT s3.* FROM s3
      LEFT JOIN sem ON sem.vec_id = s3.doc_id
      WHERE COALESCE(sem.keep, TRUE)
    ),
    dec AS ({O["decontam_ngram_overlap"]}),
    s5 AS (
      SELECT s4.doc_id, s4.n_tokens, {_TEMP_DOMAIN_SQL} AS domain
      FROM s4
      LEFT JOIN dec ON dec.doc_id = s4.doc_id
      WHERE s4.doc_id % {EVAL_MOD} <> 0
        AND NOT COALESCE(dec.contaminated, FALSE)
    ),
    domc AS (
      SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs FROM s5 GROUP BY 1
    ),
    shares AS (
      SELECT domain, n_docs,
             SQRT(q_full)
               / CAST(CAST(SUM({SQL_DEC("SQRT(q_full)")}) OVER ()
                      AS STRING) AS DOUBLE) AS p_full,
             b_docs
      FROM (
        SELECT domain, n_docs,
               CAST(n_docs AS DOUBLE)
                 / CAST(SUM(n_docs) OVER () AS DOUBLE) AS q_full,
               CAST((SUM(n_docs) OVER () * {MIX_NUM}) // {MIX_DEN}
                    AS BIGINT) AS b_docs
        FROM domc
      )
    ),
    s6 AS (
      SELECT s5.doc_id, s5.domain, s5.n_tokens
      FROM s5 JOIN shares sh ON sh.domain = s5.domain
      WHERE CAST(({_SALTED_U32_SQL}) AS DOUBLE)
              / CAST(4294967296 AS DOUBLE)
            < LEAST(CAST(1.0 AS DOUBLE),
                    (sh.p_full * CAST(sh.b_docs AS DOUBLE))
                      / CAST(sh.n_docs AS DOUBLE))
    )"""


def _split_pack_sql(src: str) -> str:
    """The stage-7 tail (split buckets → per-(split, domain) running
    offsets → chunk ids) over any (doc_id, domain, n_tokens) CTE —
    the SQL twin of :func:`_split_pack`, shared by both composites."""
    return f"""with_split AS (
      SELECT doc_id, domain, n_tokens,
             CASE WHEN bucket < {SPLIT_TRAIN_MAX} THEN 'train'
                  WHEN bucket < {SPLIT_VAL_MAX} THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id, domain, n_tokens,
               (instr('0123456789abcdef',
                      substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
             + (instr('0123456789abcdef',
                      substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
                 AS bucket
        FROM {src}
      )
    ),
    packed AS (
      SELECT doc_id, domain, split, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY split, domain ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS start_offset
      FROM with_split
    )
    SELECT doc_id, domain, split, n_tokens,
           CAST(start_offset AS BIGINT) AS start_offset,
           CAST(start_offset // {PACK_BUDGET} AS BIGINT) AS chunk_id
    FROM packed
    """


def _full_curation_oracle() -> str:
    return f"""
    WITH {_curation_ctes()},
    {_split_pack_sql("s6")}"""


def _curation_stage_frames(
    spark: SparkSession, sf_dir: str, quality_keep: DataFrame | None = None
) -> dict[str, DataFrame]:
    """Build every stage frame of the composite once (ordered:
    input → gopher → exact → minhash → semdedup → decontam →
    mixture) — shared by the packed-output gate and the funnel gate
    so the two can never disagree on stage semantics.  Eager cache
    fills happen here (stage-2 and stage-5, the CLAUDE.md
    shared-subgraph rule).

    ``quality_keep`` (a (doc_id) frame) overrides the stage-1 Gopher
    gate — the probe hook SCALING.md "Round 9: funnel-realistic
    composite decades" uses to run
    the IDENTICAL downstream composition under a percentile-derived
    band that keeps a constant fraction of the corpus (the gates
    always run with the default)."""
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par)

    # 1. Gopher quality
    gq = (
        gopher_metrics_frame(docs)
        .filter(gopher_keep_col())
        .select("doc_id")
        if quality_keep is None
        else quality_keep.select("doc_id")
    )
    s1 = docs.join(gq, "doc_id").select("doc_id", "text", "source")

    # 2. exact dedup (canonical = min doc_id per content hash)
    wdedup = W.partitionBy(
        F.md5(F.col("text").cast("binary"))
    ).orderBy("doc_id")
    n_tokens = F.size(
        F.regexp_extract_all(
            F.lower(F.col("text")),
            F.lit(r"[a-z0-9]+|[^a-z0-9\s]"),
            F.lit(0),
        )
    ).cast("long")
    s2 = cache_tracked(
        s1.withColumn("_rn", F.row_number().over(wdedup))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "text", "source", n_tokens.alias("n_tokens"))
    )
    # no separate s2 eager fill (r12): the docsets count below reads
    # s2 through exactly ONE subtree (the shingle kernel), so s2's
    # cache fills as a side effect of that first materialization —
    # race-free by the single-subtree argument; every LATER action
    # (the s5 fill, the packed output, the funnel union) reads the
    # already-filled cache.  The old s2.count() re-ran the gopher +
    # window-dedup subgraph as its own job purely to fill the cache
    # one action earlier — one full barrier per composite for nothing.

    # 3. MinHash-LSH near-dup over the SURVIVORS (restriction-exact)
    docsets = cache_tracked(
        shingle_sets_frame(s2.select("doc_id", "text"))
    )
    docsets.count()  # eager fill: band explode + both verify sides
    # (this one action also fills the s2 cache — see above)
    drops3 = (
        minhash_pairs_from_sets(docsets)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    s3 = s2.join(drops3, "doc_id", "left_anti").select(
        "doc_id", "source", "n_tokens"
    )

    # 4. SemDeDup flags from the embedding corpus (no-embedding passes)
    sem = dedup_semantic_semdedup_auto(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), F.col("keep").alias("_semkeep")
    )
    s4 = (
        s3.join(sem, "doc_id", "left")
        .filter(F.coalesce(F.col("_semkeep"), F.lit(True)))
        .drop("_semkeep")
    )

    # 5. decontam: drop eval docs + contaminated docs
    dec = decontam_ngram_overlap(spark, sf_dir).select(
        "doc_id", "contaminated"
    )
    src_ix = F.substring(F.col("source"), 4, 10).cast("int")
    domain = (
        F.when(src_ix < 10, "web")
        .when(src_ix < 16, "books")
        .when(src_ix < 19, "code")
        .otherwise("wiki")
    )
    s5 = cache_tracked(
        s4.filter(F.col("doc_id") % EVAL_MOD != 0)
        .join(dec, "doc_id", "left")
        .filter(~F.coalesce(F.col("contaminated"), F.lit(False)))
        .select("doc_id", "n_tokens", domain.alias("domain"))
    )
    s5.count()  # eager fill: domain-count aggregate + sampling filter

    # 6. temperature mixture sampling (α = 0.5, salted-md5 acceptance)
    w = W.partitionBy()  # bounded: one row per domain
    domc = s5.groupBy("domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    q_full = F.col("n_docs").cast("double") / F.sum("n_docs").over(
        w
    ).cast("double")
    sq = F.sqrt(q_full)
    shares = domc.select(
        "domain",
        "n_docs",
        (
            sq
            / F.sum(sq.cast(DEC)).over(w).cast("string").cast("double")
        ).alias("p_full"),
        F.expr(
            f"CAST((SUM(n_docs) OVER () * {MIX_NUM}) DIV {MIX_DEN}"
            " AS BIGINT)"
        ).alias("b_docs"),
    )
    hxs = F.md5(
        F.concat(F.lit("mix"), F.col("doc_id").cast("string")).cast(
            "binary"
        )
    )
    nib_s = lambda i: F.instr(  # noqa: E731
        F.lit("0123456789abcdef"), F.substring(hxs, i, 1)
    ) - 1
    u = (
        sum(
            (
                nib_s(i + 1).cast("long") * F.lit(16 ** (7 - i)).cast("long")
                for i in range(8)
            ),
            start=F.lit(0).cast("long"),
        ).cast("double")
        / F.lit(4294967296.0)
    )
    keep_rate = F.least(
        F.lit(1.0),
        (F.col("p_full") * F.col("b_docs").cast("double"))
        / F.col("n_docs").cast("double"),
    )
    s6 = (
        s5.join(F.broadcast(shares), "domain")
        .filter(u < keep_rate)
        .select("doc_id", "domain", "n_tokens")
    )
    return {
        "input": docs,
        "gopher": s1,
        "exact": s2,
        "minhash": s3,
        "semdedup": s4,
        "decontam": s5,
        "mixture": s6,
    }


def _split_pack(s6: DataFrame) -> DataFrame:
    """Stage 7: split + pack (the trainprep_corpus_pipeline tail)
    over a (doc_id, domain, n_tokens) survivor frame — shared by the
    regex-token composite and the tokenizer-aware one so the tail
    can never drift between them."""
    hx = F.md5(F.col("doc_id").cast("string").cast("binary"))
    nib = lambda i: F.instr(  # noqa: E731
        F.lit("0123456789abcdef"), F.substring(hx, i, 1)
    ) - 1
    bucket = nib(1) * 16 + nib(2)
    split = (
        F.when(bucket < SPLIT_TRAIN_MAX, "train")
        .when(bucket < SPLIT_VAL_MAX, "val")
        .otherwise("test")
    )
    wp = (
        W.partitionBy("split", "domain")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    packed = s6.select(
        "doc_id", "domain", "n_tokens", split.alias("split")
    ).withColumn(
        "start_offset",
        F.coalesce(F.sum("n_tokens").over(wp), F.lit(0)),
    )
    return packed.select(
        "doc_id",
        "domain",
        "split",
        "n_tokens",
        "start_offset",
        F.floor(F.col("start_offset") / PACK_BUDGET).alias("chunk_id"),
    )


def curated_packed(
    spark: SparkSession, sf_dir: str, quality_keep: DataFrame | None = None
) -> DataFrame:
    """The composite's full body (stages 1-7) with the probe's
    quality-stage hook — ``trainprep_full_curation`` is this at the
    default Gopher gate."""
    s6 = _curation_stage_frames(spark, sf_dir, quality_keep)["mixture"]
    return _split_pack(s6)


@query("trainprep_full_curation")
def trainprep_full_curation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """All seven curation stages composed (module docstring) — the
    reference's whole reason to exist (SURVEY §3) run as one driver
    program.  Individual stages are gated by their own registered
    queries; this gate proves the COMPOSITION: stage ordering,
    restriction semantics, shared-frame caching, and the final packed
    output, cross-engine."""
    return curated_packed(spark, sf_dir)


@query("trainprep_curation_funnel")
def trainprep_curation_funnel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The composite's FUNNEL as a first-class artifact: one row per
    stage with its survivor count — the observable a pipeline
    operator monitors per run (a stage suddenly keeping 100% or 0% is
    the alert).  Shares the exact stage frames (Spark) and CTE chain
    (oracle) with ``trainprep_full_curation``, so the funnel can
    never disagree with the pipeline it describes; all seven counts
    compute in ONE action over the union (the cached stage-2/stage-5
    frames serve their subtrees)."""
    frames = _curation_stage_frames(spark, sf_dir)
    parts = [
        df.agg(
            F.lit(i).cast("int").alias("stage_ix"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
        for i, (name, df) in enumerate(frames.items())
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _funnel_oracle() -> str:
    stages = [
        "documents", "s1", "s2", "s3", "s4", "s5", "s6",
    ]
    labels = [
        "input", "gopher", "exact", "minhash", "semdedup",
        "decontam", "mixture",
    ]
    sel = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS stage_ix, '{lbl}' AS stage,"
        f" CAST(COUNT(*) AS BIGINT) AS n_docs FROM {tbl}"
        for i, (tbl, lbl) in enumerate(zip(stages, labels))
    )
    return f"""
    WITH {_curation_ctes()}
    {sel}
    """


_registry.ORACLES["trainprep_full_curation"] = _full_curation_oracle()
_registry.ORACLES["trainprep_curation_funnel"] = _funnel_oracle()


@query("trainprep_tokenized_curation")
def trainprep_tokenized_curation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The curation composite packed by REAL tokenizer counts (round
    9): the seven-stage funnel's survivors, re-measured with the BPE
    tokenizer trained on the corpus (``operators/bpe.py``) and packed
    by ``n_bpe_tokens`` instead of the regex token count — the
    production loop where a curated corpus is budgeted in the tokens
    the MODEL will actually see.

    Composition discipline: the survivor frame is the registered
    composite's own stage-6 frame verbatim (``_curation_stage_frames``
    — can't drift), training is the gate-proven distributed delta
    trainer over the FULL corpus (matching ``text_bpe_merges`` and
    the oracle's training CTEs), and the encode kernel runs over the
    SURVIVORS ONLY (encode is per-doc, so encode(survivors) =
    encode(corpus) restricted — the LSH restriction-argument pattern;
    at 100 TB you never tokenize what curation already dropped).
    Every Gopher survivor has ≥ 30 words, so the inner join to the
    encode frame drops nothing.  The split+pack tail is the shared
    :func:`_split_pack`."""
    s6 = _curation_stage_frames(spark, sf_dir)["mixture"]
    # r10: the production auto-regime trainer (routing change only —
    # pinned bit-equal to the distributed delta loop in pytest)
    merges = bpe_train_auto(
        bpe_word_table(spark, sf_dir), BPE_MERGE_ROUNDS
    )
    docs = load_table(spark, sf_dir, "documents")
    surv_docs = docs.join(s6.select("doc_id"), "doc_id")
    enc = bpe_apply_kernel(surv_docs, merges).select(
        "doc_id", F.col("n_bpe_tokens").alias("n_tokens")
    )
    return _split_pack(s6.select("doc_id", "domain").join(enc, "doc_id"))


def _tokenized_curation_oracle() -> str:
    # the REGISTERED encode oracle text, verbatim (the CLAUDE.md
    # composite-oracle rule — never regenerate what the stage gate
    # registers, or the composite silently keeps gating old
    # semantics after a stage re-registration); it is a complete
    # WITH query, so embedding it as a parenthesized subquery keeps
    # its CTE names (w0…, e0…, docw) scoped away from the curation
    # chain's
    encode_sql = _registry.ORACLES["text_bpe_encode"]
    return f"""
    WITH {_curation_ctes()},
    bpe AS (
      SELECT doc_id, n_bpe_tokens
      FROM ({encode_sql})
    ),
    s6tok AS (
      SELECT s6.doc_id, s6.domain, b.n_bpe_tokens AS n_tokens
      FROM s6 JOIN bpe b ON b.doc_id = s6.doc_id
    ),
    {_split_pack_sql("s6tok")}"""


_registry.ORACLES["trainprep_tokenized_curation"] = (
    _tokenized_curation_oracle()
)
