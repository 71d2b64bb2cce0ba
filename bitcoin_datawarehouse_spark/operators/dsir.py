"""DSIR-style data selection: hashed n-gram importance resampling
(north-star extension).

DSIR (Data Selection via Importance Resampling, arXiv:2302.03169)
selects pretraining documents whose hashed n-gram bag looks like a
high-quality TARGET corpus: fit unigram+bigram bucket distributions
for the target and the raw pool, weight each raw document by
``log p_target(doc) - p_raw(doc)`` under the bag model, and keep a
weighted sample.  The published method samples with Gumbel noise;
this implementation makes the deterministic variant — take the TOP
fraction by importance weight with a doc_id tiebreak — so the result
is reproducible and cross-engine checkable (the same determinism
deviation every sampling operator in trainprep.py makes).

The target here is the registered Gopher-keep slice (rules define
"looks high-quality", DSIR generalizes it distributionally — the
same seed-judgment pattern as ``text_quality_classifier``, which
models tokens exactly where this models hashed n-gram buckets).

Exactness: per-bucket log-ratio terms are ROUND(·, 6)-ed with
integer-valued log2 arguments, accumulated in DECIMAL, surfaced as
BIGINT micro-bits; selection is rank-based (never a value window —
the CLAUDE.md scaled-fixture rule), so ties break on doc_id exactly.

Scale design:
* per-document bucket counts are finished INSIDE the Arrow kernel —
  md5-hashed unigrams+bigrams fold into ``N_BUCKETS`` counters per
  document before anything shuffles (hashlib md5 ≡ the engines' md5
  on the same bytes, the cross-engine hash idiom of trainprep.py);
* both distribution tables are ≤``N_BUCKETS`` rows — they broadcast
  into the scoring join; the only corpus-sized shuffles are the
  kernel repartition and the per-doc weight aggregate (map-side
  combine finishes doc-local rows early);
* the top-k selection uses the distributed global rank helper
  (range-repartition → per-partition row_number → broadcast offsets)
  — no single-partition window at any scale.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bitcoin_datawarehouse_spark.functions.cachereg import cache_tracked
from bitcoin_datawarehouse_spark.functions.ranking import with_global_rank
from bitcoin_datawarehouse_spark.operators import curation  # noqa: F401  (registers text_gopher_rules)
from bitcoin_datawarehouse_spark.operators.curation import (
    gopher_keep_col,
    gopher_metrics_frame,
)
from bitcoin_datawarehouse_spark import registry as _registry
from bitcoin_datawarehouse_spark.registry import query
from bitcoin_datawarehouse_spark.tables import load_table
from bitcoin_datawarehouse_spark.functions.localframe import local_rows_df

#: hashed feature space size (DSIR's published default is 10⁴; the
#: fixture corpora saturate signal at 256 — a constant, not a tuned
#: value: every bucket count is exercised at every SF)
N_BUCKETS = 256

#: keep 1 in SELECT_DENOM documents: k = ceil(n / SELECT_DENOM),
#: computed in integer arithmetic on both engines
SELECT_DENOM = 4

_SQL_TOKENS = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"
)


def _doc_feature_counts_frame(docs: DataFrame) -> DataFrame:
    """The hashed-n-gram bucket-count Arrow kernel over an arbitrary
    (doc_id, text) frame — shared by the fixture-reading
    :func:`doc_feature_counts` and the serve paths (which featurize
    any frame, incl. streaming micro-batches)."""
    import collections
    import hashlib

    import pandas as pd
    from pyspark.sql import types as T

    pat = re.compile("[^a-z0-9]+")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("bucket", T.IntegerType()),
            T.StructField("cnt", T.LongType()),
        ]
    )

    def gen(batches):
        # gram→bucket memo across documents within this worker (the
        # shingle_sets_frame md5-memo discipline): gram vocabularies
        # are Zipf — repeats dominate — and the bucket is a pure
        # function of the gram text, so each distinct gram is hashed
        # once per task instead of once per occurrence.  digest()[0]
        # IS int(hexdigest()[:2], 16) (the first byte); the cap keeps
        # the memo a bounded per-worker model (~30 MB), reset keeps
        # values exact.
        memo: dict[str, int] = {}
        memo_cap = 400_000

        def bucket_of(gram: str) -> int:
            b = memo.get(gram)
            if b is None:
                if len(memo) >= memo_cap:
                    memo.clear()
                b = hashlib.md5(gram.encode("utf-8")).digest()[0]
                memo[gram] = b
            return b

        for pdf in batches:
            ids: list[int] = []
            bks: list[int] = []
            cts: list[int] = []
            for did, txt in zip(pdf["doc_id"], pdf["text"]):
                tk = [t for t in pat.split(txt.lower()) if t]
                counts: collections.Counter = collections.Counter()
                # count unique grams FIRST, hash each distinct gram
                # once (occurrence counts transfer: bucket(g) is
                # per-gram, so Σ_g cnt(g) grouped by bucket is
                # unchanged)
                for g, c in collections.Counter(tk).items():
                    counts[bucket_of(g)] += c
                for (a, b), c in collections.Counter(
                    zip(tk, tk[1:])
                ).items():
                    counts[bucket_of(f"{a} {b}")] += c
                for bk, c in counts.items():
                    ids.append(did)
                    bks.append(bk)
                    cts.append(c)
            yield pd.DataFrame({"doc_id": ids, "bucket": bks, "cnt": cts})

    return docs.select("doc_id", "text").mapInPandas(gen, schema)


def doc_feature_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bucket, cnt): per-document hashed-n-gram bucket
    counts (unigrams + space-joined bigrams, md5 → first byte →
    bucket), pre-aggregated inside the Arrow kernel."""
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    return _doc_feature_counts_frame(
        docs.repartition(par).select("doc_id", "text")
    )


def _dsir_distributions(
    spark: SparkSession, sf_dir: str, feats: DataFrame
) -> tuple[DataFrame, DataFrame, int, int]:
    """(tcnt, rcnt, nt, nr): the two ≤``N_BUCKETS``-row bucket
    distribution tables (target = Gopher-keep slice, raw = whole
    pool) and their exact integer totals.  Collecting the totals also
    eagerly fills the ``feats`` cache (the tf-idf n_docs pattern)."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # plain join, NOT a broadcast hint: the Gopher-keep doc_id set is
    # CORPUS-PROPORTIONAL (~30% of documents), so forcing a broadcast
    # is exactly what breaks first at 100 TB — let AQE pick (r9
    # ADVICE).  The join output collapses to ≤N_BUCKETS rows in the
    # very next aggregate, so the shuffle is the bounded cost here.
    tgt = gopher_metrics_frame(docs).filter(gopher_keep_col()).select("doc_id")
    tcnt = (
        feats.join(tgt, "doc_id")
        .groupBy("bucket")
        .agg(F.sum("cnt").cast("long").alias("ct"))
    )
    rcnt = feats.groupBy("bucket").agg(
        F.sum("cnt").cast("long").alias("cr")
    )
    # both scalar totals in ONE pass (r12): a left join marks target
    # membership (tgt is per-doc distinct — gopher emits one row per
    # document, so the join never multiplies), nt sums the marked
    # rows, nr sums everything.  Replaces two sequential collect
    # actions — each a full aggregate pass over feats — with one; the
    # single action still eagerly fills the feats cache (feats is
    # read by exactly one subtree here).  Equality: nt = Σ cnt over
    # target docs = SUM(tcnt.ct); nr = Σ cnt = SUM(rcnt.cr).
    row = (
        feats.join(tgt.withColumn("_t", F.lit(1)), "doc_id", "left")
        .agg(
            F.sum(F.when(F.col("_t") == 1, F.col("cnt")))
            .cast("long")
            .alias("nt"),
            F.sum("cnt").cast("long").alias("nr"),
        )
        .collect()[0]
    )
    nt = int(row["nt"] or 0)
    nr = int(row["nr"] or 0)
    return tcnt, rcnt, nt, nr


def _weights_from(
    feats: DataFrame, tcnt: DataFrame, rcnt: DataFrame, nt: int, nr: int
) -> DataFrame:
    """(doc_id, weight_micro) under FROZEN distribution tables — the
    scoring join shared by the in-plan trainer and the persisted-model
    serve path.  The tables are ≤``N_BUCKETS`` rows: the broadcast
    hints here are the bounded-model kind, not the r9-ADVICE hazard.

    r13: the per-bucket term is a pure function of the BUCKET, so it
    is evaluated once per model bucket (≤256 rows) and carried as
    exact integer micro-bits (:func:`functions.numeric.micro6`):
    ``Σ term_micro·cnt`` in LONG equals the old
    ``CAST(Σ dec(term)·cnt · 1e6 AS BIGINT)`` decimal surface
    value-for-value, while the corpus-sized rows pay one broadcast
    probe + long multiply-add instead of 4×log2 + round + a decimal
    accumulate.  The inner join on rcnt keeps the old row-dropping
    semantics for buckets the model never saw (term table rows come
    FROM rcnt)."""
    from bitcoin_datawarehouse_spark.functions.numeric import micro6

    tm_tab = rcnt.join(tcnt, "bucket", "left").select(
        "bucket",
        micro6(
            F.round(
                F.log2(
                    (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                )
                - F.log2(F.lit(nt + N_BUCKETS).cast("double"))
                - F.log2((F.col("cr") + 1).cast("double"))
                + F.log2(F.lit(nr + N_BUCKETS).cast("double")),
                6,
            )
        ).alias("_tm"),
    )
    return (
        feats.join(F.broadcast(tm_tab), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("_tm") * F.col("cnt")).alias("weight_micro"))
        .select("doc_id", "weight_micro")
    )


def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, weight_micro): per-document importance weight in
    integer micro-bits under the hashed bag model."""
    # feats feeds three subtrees of the graph (target counts, raw
    # counts, scoring join) — cache_tracked, eagerly filled by the
    # totals collect (CLAUDE.md multi-subtree rule).  Rows for one
    # document are task-local out of the kernel, so the per-doc
    # aggregate's map-side combine finishes them before the shuffle.
    feats = cache_tracked(doc_feature_counts(spark, sf_dir))
    tcnt, rcnt, nt, nr = _dsir_distributions(spark, sf_dir, feats)
    return _weights_from(feats, tcnt, rcnt, nt, nr)


def _select_top(wts: DataFrame, k: int) -> DataFrame:
    """Rank-based top-k selection (weight DESC, doc_id tiebreak) via
    the distributed global-rank helper — shared by the in-plan and
    served gates."""
    ranked = with_global_rank(
        wts.withColumn("_neg_w", -F.col("weight_micro")),
        ["_neg_w", "doc_id"],
        rank_alias="rk",
        total_alias="_total",
    )
    return (
        ranked.filter(F.col("rk") <= k)
        .select("doc_id", "weight_micro", F.col("rk").cast("long").alias("rk"))
    )


@query("trainprep_dsir_select")
def trainprep_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection: the top ``ceil(n/SELECT_DENOM)`` documents by
    hashed-n-gram importance weight toward the Gopher-keep target
    (module docstring), with their weights and selection ranks."""
    n_docs = load_table(spark, sf_dir, "documents").count()
    k = (n_docs + SELECT_DENOM - 1) // SELECT_DENOM
    return _select_top(dsir_weights(spark, sf_dir), k)


# -- persisted model (build/serve split) -------------------------------------

DSIR_MODEL_SCHEMA = "models"


def _fit_dsir_shared(
    spark: SparkSession, sf_dir: str
) -> tuple[dict[str, DataFrame], DataFrame]:
    """Fit the DSIR model with the rank pass SHARED: returns
    ``(parts, sel)`` where ``sel`` is the cache_tracked top-k
    selection frame and the persisted threshold is derived FROM it
    (``thr = MIN(weight_micro)`` over the selected set ≡ the weight at
    rank k under the same total order).  One global rank pass serves
    both the model constant and any caller that also needs the
    selection itself (``trainprep_dsir_served`` — previously the fit
    ranked the corpus for thr and the serve path ranked the identical
    weights again; the persisted distributions ARE the fitted
    distributions, so the serve-side weights are equal by
    construction and re-deriving them was pure recompute)."""
    feats = cache_tracked(doc_feature_counts(spark, sf_dir))
    tcnt, rcnt, nt, nr = _dsir_distributions(spark, sf_dir, feats)
    n_docs = load_table(spark, sf_dir, "documents").count()
    k = (n_docs + SELECT_DENOM - 1) // SELECT_DENOM
    # sel feeds two actions (the thr probe below + the caller's read)
    # — k-row doc-sized cache, filled by the thr probe
    sel = cache_tracked(
        _select_top(_weights_from(feats, tcnt, rcnt, nt, nr), k)
    )
    # the threshold is a 1-row aggregate over the selection — the
    # bounded-artifact collect pattern (never corpus-sized)
    thr_row = sel.agg(F.min("weight_micro").alias("thr")).collect()[0]
    thr = int(thr_row["thr"]) if thr_row["thr"] is not None else 0
    parts = {
        "target": tcnt,
        "raw": rcnt,
        "consts": local_rows_df(
            spark, [(nt, nr, thr)], "nt long, nr long, thr_micro long"
        ),
    }
    return parts, sel


def fit_dsir_parts(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Fit the DSIR model and return its parts as FRAMES —
    {"target", "raw", "consts"} (consts holds the exact totals AND
    the build-time selection threshold) — shared by
    :func:`save_dsir_model` (fixed table names) and the versioned
    ``pipeline.model_registry`` (atomic generations)."""
    return _fit_dsir_shared(spark, sf_dir)[0]


def save_dsir_model(
    warehouse, spark: SparkSession, sf_dir: str, name: str = "dsir"
) -> None:
    """Fit and persist the DSIR model: the two ≤``N_BUCKETS``-row
    bucket distribution tables plus a 1-row constants table holding
    their exact totals AND the build-time selection threshold (the
    k-th ranked weight, k = ⌈n/SELECT_DENOM⌉) — production scores a
    crawl against FROZEN target/raw distributions and gates on the
    frozen threshold (the quality_classifier / lm_quality build/serve
    discipline, r9 VERDICT item 3)."""
    _save_dsir_parts(warehouse, fit_dsir_parts(spark, sf_dir), name)


def _save_dsir_parts(
    warehouse, parts: dict[str, DataFrame], name: str = "dsir"
) -> None:
    """Write the three part tables: target+raw overlapped from a
    2-thread driver pool (guide §2.6: actions are only sequential
    because the driver calls them sequentially; write_atomic is
    path-based, so no catalog contention; the pool threads inherit the
    caller's job group), consts strictly LAST —
    for the fixed-name (non-registry) path consts is the de-facto
    pointer: ``ensure_dsir_model``'s exists-all-three probe can only
    see a complete model once consts lands, so a crash mid-save never
    leaves a detectable-but-mixed model (fresh consts over stale
    distributions).  Versioned callers get the stronger
    generation+pointer protocol from ``pipeline.model_registry``."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(
                inheritable_thread_target(warehouse.spark)(warehouse.write_atomic),
                parts[part],
                DSIR_MODEL_SCHEMA,
                f"{name}_{part}",
                coalesce=1,
            )
            for part in ("target", "raw")
        ]
        for f in futs:
            f.result()
    warehouse.write_atomic(
        parts["consts"], DSIR_MODEL_SCHEMA, f"{name}_consts", coalesce=1
    )


def dsir_score_with(
    warehouse, docs: DataFrame, name: str = "dsir", consts_row=None
) -> DataFrame:
    """Serve path: (doc_id, weight_micro) for ``docs`` (doc_id, text)
    under a PERSISTED DSIR model — no refitting; the corpus work is
    the feature kernel plus two ≤``N_BUCKETS``-row broadcast joins.
    Model tables are read WITH ``docs``' own session
    (``Warehouse.read_with``), so a foreachBatch caller's whole plan
    lives on the micro-batch session.  A caller that already collected
    the 1-row consts table (e.g. for the threshold) passes it as
    ``consts_row`` to skip the second driver round trip."""
    sess = docs.sparkSession
    crow = consts_row
    if crow is None:
        crow = warehouse.read_with(
            sess, DSIR_MODEL_SCHEMA, f"{name}_consts"
        ).collect()[0]
    par = sess.sparkContext.defaultParallelism
    feats = _doc_feature_counts_frame(docs.repartition(par))
    tcnt = warehouse.read_with(sess, DSIR_MODEL_SCHEMA, f"{name}_target")
    rcnt = warehouse.read_with(sess, DSIR_MODEL_SCHEMA, f"{name}_raw")
    return _weights_from(feats, tcnt, rcnt, int(crow["nt"]), int(crow["nr"]))


def dsir_threshold(warehouse, spark: SparkSession, name: str = "dsir") -> int:
    """The persisted build-time selection threshold (micro-bits)."""
    crow = warehouse.read_with(
        spark, DSIR_MODEL_SCHEMA, f"{name}_consts"
    ).collect()[0]
    return int(crow["thr_micro"])


def dsir_score_resolved(model, docs: DataFrame) -> DataFrame:
    """Score ``docs`` with a generation resolved from the versioned
    ``pipeline.model_registry`` (parts "target"/"raw"/"consts") —
    one atomic generation, never a mixed model."""
    crow = model.parts["consts"].collect()[0]
    par = docs.sparkSession.sparkContext.defaultParallelism
    feats = _doc_feature_counts_frame(docs.repartition(par))
    return _weights_from(
        feats,
        model.parts["target"],
        model.parts["raw"],
        int(crow["nt"]),
        int(crow["nr"]),
    )


def dsir_threshold_resolved(model) -> int:
    """The resolved generation's build-time threshold (micro-bits)."""
    return int(model.parts["consts"].collect()[0]["thr_micro"])


@query("trainprep_dsir_served")
def trainprep_dsir_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-model round trip, driver-proven: fit → Warehouse
    model tables → the rank selection, under the SAME oracle as
    ``trainprep_dsir_select``.  The selection frame is the ONE rank
    pass the fit already runs for its threshold constant
    (:func:`_fit_dsir_shared`): the persisted distributions are the
    fitted distributions, so re-featurizing and re-ranking the same
    corpus through the loaded model reproduced identical weights at
    double the cost (r12 verdict item 6 — the old trace ranked the
    corpus twice and ran the feature kernel twice).  The frozen-model
    LOAD path keeps its own driver-proven gate:
    ``trainprep_dsir_serve_only`` scores strictly from the persisted
    tables."""
    from bitcoin_datawarehouse_spark.pipeline.catalog import (
        Warehouse,
        scratch_root,
    )

    wh = Warehouse(spark, scratch_root("bds_dsir", sf_dir))
    parts, sel = _fit_dsir_shared(spark, sf_dir)
    _save_dsir_parts(wh, parts)
    return sel


def _dsir_wts_ctes() -> str:
    """The shared fit+score CTE chain through ``wts`` (doc_id,
    weight_micro) — both the select oracle and the serve-only oracle
    append their own tails, so the scoring algebra has a single
    source of truth."""
    gq = _registry.ORACLES["text_gopher_rules"]
    return f"""
    WITH gq AS ({gq}),
    tk AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    grams AS (
      SELECT doc_id, unnest(toks) AS gram FROM tk
      UNION ALL
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i + 1]))
               AS gram
      FROM tk WHERE len(toks) >= 2
    ),
    feats AS (
      SELECT doc_id,
             CAST((instr('0123456789abcdef', substr(md5(gram), 1, 1)) - 1) * 16
               + (instr('0123456789abcdef', substr(md5(gram), 2, 1)) - 1)
               AS INT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM grams GROUP BY 1, 2
    ),
    tgt AS (SELECT doc_id FROM gq WHERE keep),
    tcnt AS (
      SELECT f.bucket, CAST(SUM(f.cnt) AS BIGINT) AS ct
      FROM feats f JOIN tgt USING (doc_id) GROUP BY f.bucket
    ),
    rcnt AS (
      SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS cr
      FROM feats GROUP BY bucket
    ),
    tot AS (
      SELECT (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) FROM tcnt) AS nt,
             (SELECT CAST(COALESCE(SUM(cr), 0) AS BIGINT) FROM rcnt) AS nr
    ),
    terms AS (
      SELECT f.doc_id, f.cnt,
             ROUND(log2(CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE))
                   - log2(CAST(o.nt + {N_BUCKETS} AS DOUBLE))
                   - log2(CAST(r.cr + 1 AS DOUBLE))
                   + log2(CAST(o.nr + {N_BUCKETS} AS DOUBLE)), 6) AS term
      FROM feats f
      LEFT JOIN tcnt t USING (bucket)
      JOIN rcnt r USING (bucket)
      CROSS JOIN tot o
    ),
    wts AS (
      SELECT doc_id,
             CAST(SUM(CAST(CAST(term AS STRING) AS DECIMAL(38,10)) * cnt)
                  * 1000000 AS BIGINT) AS weight_micro
      FROM terms GROUP BY doc_id
    )"""


def _dsir_oracle() -> str:
    return (
        _dsir_wts_ctes()
        + f""",
    ranked AS (
      SELECT doc_id, weight_micro,
             CAST(ROW_NUMBER() OVER (ORDER BY weight_micro DESC, doc_id)
                  AS BIGINT) AS rk
      FROM wts
    )
    SELECT doc_id, weight_micro, rk FROM ranked
    WHERE rk <= (SELECT (COUNT(*) + {SELECT_DENOM - 1}) // {SELECT_DENOM}
                 FROM documents)"""
    )


def _dsir_serve_only_oracle() -> str:
    # the frozen threshold is the weight at rank k (min weight of the
    # top-k set under the same weight-DESC/doc_id order the selector
    # uses); serving keeps weight >= threshold — ties AT the
    # threshold all pass, which is exactly the production gate's
    # semantics (a frozen scalar can't see ranks)
    return (
        _dsir_wts_ctes()
        + f""",
    ranked AS (
      SELECT doc_id, weight_micro,
             CAST(ROW_NUMBER() OVER (ORDER BY weight_micro DESC, doc_id)
                  AS BIGINT) AS rk
      FROM wts
    ),
    thr AS (
      SELECT MIN(weight_micro) AS t FROM ranked
      WHERE rk <= (SELECT (COUNT(*) + {SELECT_DENOM - 1}) // {SELECT_DENOM}
                   FROM documents)
    )
    SELECT doc_id, weight_micro,
           weight_micro >= (SELECT COALESCE(t, 0) FROM thr) AS kept
    FROM wts"""
    )


_registry.ORACLES["trainprep_dsir_select"] = _dsir_oracle()
# the serving twin gates under the SAME oracle (the persisted
# distributions are the fitted distributions — weights identical by
# construction)
_registry.ORACLES["trainprep_dsir_served"] = _registry.ORACLES[
    "trainprep_dsir_select"
]


def ensure_dsir_model(
    warehouse, spark: SparkSession, sf_dir: str, name: str = "dsir"
) -> bool:
    """Build the persisted DSIR model iff absent (idempotent): the
    fixtures are immutable, so a model keyed by the scratch root's
    fixture digest is deterministic and reusable across gates in one
    process — this is what lets the serve-only gate time the FROZEN
    scoring path instead of refitting (r10 VERDICT item 1).  Returns
    True when a build ran."""
    if all(
        warehouse.table_exists(DSIR_MODEL_SCHEMA, f"{name}{suffix}")
        for suffix in ("_target", "_raw", "_consts")
    ):
        return False
    save_dsir_model(warehouse, spark, sf_dir, name)
    return True


@query("trainprep_dsir_serve_only", oracle=_dsir_serve_only_oracle())
def trainprep_dsir_serve_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION serving economics, separated from the build: score
    the corpus under an already-persisted DSIR model and gate on the
    FROZEN build-time threshold (``thr_micro``) — no refitting, no
    rank pass; the corpus work is one feature kernel + two
    ≤``N_BUCKETS``-row broadcast joins + one per-doc aggregate.
    ``trainprep_dsir_served`` keeps timing the full fit→persist→score
    round trip; this gate is the steady-state serve wall the r10
    verdict asked to split out (its bench row ran 9.6 s, ~3× the
    in-plan sibling, because build cost dominated)."""
    from bitcoin_datawarehouse_spark.pipeline.catalog import (
        Warehouse,
        scratch_root,
    )

    wh = Warehouse(spark, scratch_root("bds_dsir", sf_dir))
    ensure_dsir_model(wh, spark, sf_dir)
    # one consts read serves both the frozen threshold and the scoring
    # totals (was two 1-row collect actions over the same table)
    crow = wh.read_with(
        spark, DSIR_MODEL_SCHEMA, "dsir_consts"
    ).collect()[0]
    thr = int(crow["thr_micro"])
    docs = load_table(spark, sf_dir, "documents")
    return dsir_score_with(wh, docs, consts_row=crow).withColumn(
        "kept", F.col("weight_micro") >= F.lit(thr)
    )
