"""Streaming arrival path of the curation pipeline (round 8; round 9
adds the two gates the batch composite had and the stream lacked —
SemDeDup and benchmark decontamination, closing r8 VERDICT item 2).

``trainprep_full_curation`` curates a CORPUS; production corpora
arrive as crawls — micro-batches of documents that must flow through
the same gates incrementally: quality (stateless), exact dedup
against everything seen so far, near-dup against the persisted
MinHash-LSH index, SEMANTIC dedup against the standing per-cell
representative state, DECONTAMINATION against the session's eval
shingle artifact, and an append of the survivors to the curated
table.  This module runs that loop under Structured Streaming via
``foreachBatch`` (the integration point every stream in this repo
uses: per-trigger cost bounded by the micro-batch, restart resumes
from the checkpoint).

Stage state, and why each is the scale-right shape:

* quality — per-doc pure function, no state;
* exact dedup — ONE (doc_id, content_hash) history table: in-batch
  canonical is a hash-partitioned window, history check is an
  anti-join on content_hash (history holds only content OWNERS — a
  doc dropped as a near-dup still owns its content, exactly the
  sequential-batch semantics);
* near-dup — the persisted ``LshDedupIndex`` loop wholesale
  (``ingest_batch``: decisions materialized, then the batch folds
  into the band/docset tables);
* SemDeDup — ARRIVAL-ORDER greedy (the incremental twin of the batch
  keep-farthest rule, exactly as the LSH index is the incremental
  twin of the pairwise batch rule): a doc is dropped iff it has an
  above-τ cosine to an already-KEPT representative of its cell.
  State is one (centroid_id, doc_id, e) table of kept reps; the
  codebook is a bounded model in the kernel closure (the ann_stream
  assignment machinery), batch docs assign in one Arrow pass and each
  touched CELL resolves task-locally in doc_id order — per-trigger
  cost ∝ batch×(touched-cell state), never corpus².  Docs without an
  embedding pass through (the batch composite's rule);
* decontam — stateless projection: the eval-suite shingle set is a
  SESSION ARTIFACT (MBs forever, the decontam_ngram_overlap design),
  shipped in the kernel closure; eval-member docs
  (doc_id % EVAL_MOD = 0) and docs at round6(overlap) ≥ threshold
  drop, mirroring the composite's stage-5 rule bit-for-bit;
* curated append — keyed idempotent (doc_id anti-join).

Exactly-once across crash/replay, the dedup_stream.py discipline:
the history table's doc_id set is the REPLAY GUARD (a fully
processed doc drops out at the top), and a doc that crashed between
the index append and the downstream appends is recovered by
BACKFILLING its decision from the index's per-ingest decisions table
BEFORE any fresh ingest replaces that table.  Every append
anti-joins on doc_id, so a clean replay writes nothing.  The
SemDeDup state append is keyed the same way, and its evaluation
EXCLUDES state rows whose doc_id is in the current batch (they can
only be there from a crashed partial run of this same trigger, and
replaying the deterministic in-cell order reproduces the pre-crash
decisions instead of marking docs dups of themselves).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from bitcoin_datawarehouse_spark.functions.cachereg import cache_tracked
from bitcoin_datawarehouse_spark.functions.vectors import (
    cosine_row_blocks,
    dim_ordered_norms,
    norm_col,
    read_vectors,
)
from bitcoin_datawarehouse_spark.operators.curation import (
    gopher_keep_col,
    gopher_metrics_frame,
)
from bitcoin_datawarehouse_spark.operators.curation import (
    DECONTAM_THRESHOLD,
    EVAL_MOD,
)
from bitcoin_datawarehouse_spark.operators.dedup import shingle_sets_frame
from bitcoin_datawarehouse_spark.operators.embeddings_extra import (
    COSINE_DUP_THRESHOLD,
)
from bitcoin_datawarehouse_spark.operators.lsh_index import LshDedupIndex
from bitcoin_datawarehouse_spark.functions.localframe import local_rows_df


def _py_round6(x: float) -> float:
    """Python twin of functions.numeric.str_round6 (shortest repr →
    6-dp decimal, half away from zero → double) — the kernel-side
    rounding for the decontam threshold comparison."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def run_curation_stream(
    doc_stream: DataFrame,
    index: LshDedupIndex,
    checkpoint_dir: str,
    curated_table: str = "curated_docs",
    emb_path: str | None = None,
    sem_codebook: list[tuple[int, list[float]]] | None = None,
    sem_tau: float | None = None,
    eval_shingles: frozenset | None = None,
    chunk_index=None,
    quality_model: str | None = None,
    dsir_model: str | None = None,
    dsir_threshold_micro: int | None = None,
    quality_registry=None,
) -> StreamingQuery:
    """Start the incremental curation of ``doc_stream`` (schema:
    doc_id long, text string, source string).  Survivors land in
    ``curated_table``; content ownership in ``{curated_table}_hashes``;
    near-dup state in ``index``; SemDeDup kept-representative state in
    ``{curated_table}_semcells``.  ``availableNow`` so tests/backfills
    drain and stop.

    ``emb_path`` + ``sem_codebook`` enable the streaming SemDeDup
    stage: ``emb_path`` is a parquet of (vec_id, embedding) the
    micro-batch session joins for batch docs' vectors (a STATIC
    enrich source — read inside the trigger, per the CLAUDE.md
    foreachBatch session rule), ``sem_codebook`` the driver-collected
    (centroid_id, ce) model rows (bounded — the codebook pattern).
    ``eval_shingles`` enables the decontamination stage (the session
    eval-suite shingle artifact, see
    ``curation.decontam_ngram_overlap``).  ``chunk_index`` (a BUILT
    ``IvfIndex``, e.g. empty-built over a fixed codebook) enables the
    retrieval-ingest tail: each trigger's FINAL survivors are chunked
    (``chunk_windows_frame``) and featurized
    (``chunk_vectors_frame``), and their vectors append to the
    persisted chunk index — the full streaming RAG path (crawl →
    curate → chunk → index), searches see new documents without a
    rebuild.  Replay-safe via the ann_stream vec_id anti-join, and
    ordered BEFORE the content-history append (the trigger's commit
    marker), so a crash between the two replays the chunk ingest as a
    no-op instead of losing it.  Leaving a knob ``None`` skips its
    stage — an embedding-less crawl still curates through the text
    gates.

    ``quality_model`` (the name of a persisted NB model in the
    index's warehouse — ``quality_classifier.save_quality_model``)
    swaps the stage-1 gate from the Gopher rules to MODEL-BASED
    scoring (``score_with``): the production configuration where the
    classifier trains offline and serves FROZEN over the arriving
    crawl — the streaming twin of ``trainprep_classifier_curation``'s
    gate swap.  Per trigger the cost is the token kernel over the
    micro-batch plus one broadcast join against the vocabulary-sized
    model table (path-based read — fresh listing per trigger, immune
    to the cross-session cached-relation hazard).

    ``dsir_model`` (a persisted DSIR model in the index's warehouse —
    ``dsir.save_dsir_model``) adds the importance-resampling gate
    after the quality stage: each arriving doc is scored against the
    FROZEN target/raw bucket distributions and kept iff its
    weight_micro reaches the threshold (``dsir_threshold_micro``, or
    the model's persisted BUILD-TIME selection threshold when None) —
    the streaming serve shape of ``trainprep_dsir_select``: rank
    selection is corpus-relative and can't run per-trigger, so the
    frozen-threshold gate is the arrival-order twin (keeps every doc
    a build-corpus rank selection at that threshold would keep).  Per
    trigger: the feature kernel over the micro-batch plus two
    ≤N_BUCKETS-row broadcast joins.

    ``quality_registry`` (a ``pipeline.model_registry.ModelRegistry``)
    upgrades the ``quality_model`` gate from fixed table names to the
    VERSIONED registry: each trigger resolves the current generation
    (pointer read first, then that generation's part tables — one
    atomic model, never a mix), so an offline re-train can
    atomically swap the serving model between triggers while the
    stream runs (r10 VERDICT item 2)."""
    wh, schema = index.wh, index.schema
    hashes_table = f"{curated_table}_hashes"
    semcells_table = f"{curated_table}_semcells"
    tau = sem_tau if sem_tau is not None else COSINE_DUP_THRESHOLD

    def _append_keyed(df: DataFrame, table: str) -> None:
        """Idempotent append: drop rows whose doc_id is already in
        the target (replayed writes become no-ops)."""
        if wh.table_exists(schema, table):
            seen = wh.read(schema, table).select("doc_id")
            df = df.join(seen, "doc_id", "left_anti")
        if not df.limit(1).isEmpty():
            wh.append(df, schema, table)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        # every frame from the MICRO-BATCH session (the CLAUDE.md
        # foreachBatch rule — mixing sessions silently writes nothing).
        # Eager localCheckpoint first: the batch feeds TWO subtrees of
        # the quality stage (the join's left side AND the metrics
        # kernel), so an unmaterialized batch re-scans the stream
        # source per subtree (observed: numInputRows doubled).
        batch_df = batch_df.localCheckpoint()
        if quality_model is not None and quality_registry is not None:
            from bitcoin_datawarehouse_spark.operators.quality_classifier import (
                score_resolved,
            )

            model = quality_registry.resolve(
                batch_df.sparkSession, quality_model
            )
            keep_ids = (
                score_resolved(model, batch_df.select("doc_id", "text"))
                .filter(F.col("pred_keep"))
                .select("doc_id")
            )
        elif quality_model is not None:
            from bitcoin_datawarehouse_spark.operators.quality_classifier import (
                score_with,
            )

            keep_ids = (
                score_with(
                    wh,
                    batch_df.select("doc_id", "text"),
                    quality_model,
                )
                .filter(F.col("pred_keep"))
                .select("doc_id")
            )
        else:
            keep_ids = (
                gopher_metrics_frame(batch_df.select("doc_id", "text"))
                .filter(gopher_keep_col())
                .select("doc_id")
            )
        q = batch_df.join(keep_ids, "doc_id")
        if dsir_model is not None:
            from bitcoin_datawarehouse_spark.operators.dsir import (
                dsir_score_with,
                dsir_threshold,
            )

            thr = (
                dsir_threshold_micro
                if dsir_threshold_micro is not None
                else dsir_threshold(wh, batch_df.sparkSession, dsir_model)
            )
            dsir_keep = (
                dsir_score_with(
                    wh, batch_df.select("doc_id", "text"), dsir_model
                )
                .filter(F.col("weight_micro") >= F.lit(int(thr)))
                .select("doc_id")
            )
            q = q.join(dsir_keep, "doc_id")
        q = q.withColumn(
            "content_hash", F.md5(F.col("text").cast("binary"))
        )
        # in-batch exact canonical (min doc_id per content)
        wdd = W.partitionBy("content_hash").orderBy("doc_id")
        s2 = (
            q.withColumn("_rn", F.row_number().over(wdd))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if wh.table_exists(schema, hashes_table):
            hist = wh.read(schema, hashes_table)
            # replay guard first (a processed doc must NOT be dropped
            # as a dup of itself), then the content-history check
            s2 = s2.join(hist.select("doc_id"), "doc_id", "left_anti")
            s2 = s2.join(
                hist.select("content_hash"), "content_hash", "left_anti"
            )
        s2 = cache_tracked(s2)
        docsets = None
        try:
            if s2.count() == 0:
                return

            docsets = cache_tracked(
                shingle_sets_frame(s2.select("doc_id", "text"))
            )
            docsets.count()

            # crash recovery: docs already IN the index were decided
            # by a prior (crashed) run — backfill their decisions from
            # the per-ingest table BEFORE a fresh ingest replaces it.
            # Recovered decisions are MATERIALIZED (localCheckpoint)
            # before the fresh ingest overwrites their source table,
            # then both subsets finish as ONE decided frame so the
            # downstream SemDeDup stage sees the whole trigger in
            # doc_id order.
            decided = []
            if index.exists():
                seen = index._docsets().select("doc_id")
                fresh = docsets.join(seen, "doc_id", "left_anti")
                indexed = docsets.select("doc_id").join(
                    seen, "doc_id", "left_semi"
                )
                if not indexed.isEmpty() and wh.table_exists(
                    schema, index.decisions_table
                ):
                    decided.append(
                        wh.read(schema, index.decisions_table)
                        .join(indexed, "doc_id")
                        .select("doc_id", "is_dup")
                        .localCheckpoint()
                    )
            else:
                fresh = docsets

            if not fresh.limit(1).isEmpty():
                decided.append(
                    index.ingest_batch(fresh).select("doc_id", "is_dup")
                )
            if decided:
                all_dec = decided[0]
                for d in decided[1:]:
                    all_dec = all_dec.unionByName(d)
                _finish(s2, all_dec, batch_id)
        finally:
            # per-micro-batch caches die with their trigger (the
            # cachereg streaming contract) — a long-running stream
            # must not pin one batch-sized cache per trigger
            s2.unpersist()
            if docsets is not None:
                docsets.unpersist()

    def _semdedup_stage(surv: DataFrame) -> DataFrame:
        """Arrival-order semantic dedup of the LSH survivors against
        the standing per-cell representative state (module docstring
        has the full design).  Appends this trigger's kept reps to
        the state table; returns ``surv`` minus semantic dups."""
        import numpy as np
        import pandas as pd

        from bitcoin_datawarehouse_spark.operators.embeddings_extra import (
            _nearest_centroid_kernel_impl,
        )

        bspark = surv.sparkSession
        embr = bspark.read.parquet(emb_path).select(
            F.col("vec_id").alias("doc_id"),
            F.col("embedding").cast("array<double>").alias("e"),
        )
        emb_b = surv.select("doc_id").join(embr, "doc_id")
        cent = local_rows_df(bspark, 
            sem_codebook, "centroid_id long, ce array<double>"
        ).withColumn("cn", norm_col(F.col("ce")))
        # eager: the assignment feeds the cell kernel AND the state
        # append (two actions) — batch-sized, pin it once
        assigned = (
            _nearest_centroid_kernel_impl(
                emb_b.withColumnRenamed("doc_id", "vec_id"),
                cent,
                keep_vec=True,
            )
            .withColumnRenamed("vec_id", "doc_id")
            .localCheckpoint()
        )

        # state for evaluation: touched cells only, minus any rows
        # from THIS batch (crash-replay guard — deterministic replay
        # reproduces the pre-crash decisions, see module docstring)
        if wh.table_exists(schema, semcells_table):
            state = (
                wh.read(schema, semcells_table)
                .join(
                    assigned.select("centroid_id").distinct(),
                    "centroid_id",
                    "left_semi",
                )
                .join(surv.select("doc_id"), "doc_id", "left_anti")
            )
        else:
            state = local_rows_df(bspark, 
                [], "centroid_id long, doc_id long, e array<double>"
            )
        merged = assigned.select(
            "centroid_id", "doc_id", "e", F.lit(False).alias("_st")
        ).unionByName(
            state.select(
                "centroid_id", "doc_id", "e", F.lit(True).alias("_st")
            )
        )

        def cell_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            emat = read_vectors(pdf["e"])
            nrm = dim_ordered_norms(emat)
            is_st = pdf["_st"].to_numpy(dtype=bool)
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            batch_rows = np.nonzero(~is_st)[0]
            order = batch_rows[np.argsort(ids[batch_rows], kind="stable")]
            # one (batch docs in arrival order × cell rows) cosine grid,
            # in row blocks that arrive in that order; the greedy scan
            # reads each doc's row against the reps kept so far
            kept = is_st.copy()
            out_ids, out_keep = [], []
            for s, cos in cosine_row_blocks(
                emat[order], nrm[order], emat, nrm
            ):
                for i, row in enumerate(order[s : s + len(cos)]):
                    dup = bool(np.any(cos[i][kept] >= tau))
                    out_ids.append(int(ids[row]))
                    out_keep.append(not dup)
                    kept[row] = not dup
            return pd.DataFrame(
                {"doc_id": out_ids, "keep": out_keep}
            )

        flags = merged.groupBy("centroid_id").applyInPandas(
            cell_kernel, "doc_id long, keep boolean"
        )
        flags = cache_tracked(flags)
        try:
            flags.count()  # eager: feeds the state append AND the drop
            _append_keyed(
                assigned.join(
                    flags.filter(F.col("keep")).select("doc_id"),
                    "doc_id",
                    "left_semi",
                ).select("centroid_id", "doc_id", "e"),
                semcells_table,
            )
            drops = [
                r["doc_id"]
                for r in flags.filter(~F.col("keep"))
                .select("doc_id")
                .collect()
            ]
        finally:
            flags.unpersist()
        if not drops:
            return surv
        return surv.join(
            local_rows_df(surv.sparkSession, 
                [(d,) for d in drops], "doc_id long"
            ),
            "doc_id",
            "left_anti",
        )

    def _decontam_stage(surv: DataFrame) -> DataFrame:
        """Stateless decontamination: drop eval-member docs and docs
        whose 3-gram shingle overlap with the session eval artifact
        reaches the threshold (the batch stage-5 rule, kernel-side)."""
        import re as _re

        import pandas as pd

        pat = _re.compile("[^a-z0-9]+")
        ev = eval_shingles

        def gen(batches):
            for pdf in batches:
                ids, contam = [], []
                for did, txt in zip(pdf["doc_id"], pdf["text"]):
                    tk = [t for t in pat.split(txt.lower()) if t]
                    seen = set()
                    for i in range(len(tk) - 2):
                        seen.add(f"{tk[i]} {tk[i + 1]} {tk[i + 2]}")
                    c = bool(seen) and _py_round6(
                        len(seen & ev) / len(seen)
                    ) >= DECONTAM_THRESHOLD
                    ids.append(did)
                    contam.append(c)
                yield pd.DataFrame(
                    {"doc_id": ids, "contaminated": contam}
                )

        surv = surv.filter(F.col("doc_id") % EVAL_MOD != 0)
        flags = surv.select("doc_id", "text").mapInPandas(
            gen, "doc_id long, contaminated boolean"
        )
        return surv.join(
            flags.filter(F.col("contaminated")).select("doc_id"),
            "doc_id",
            "left_anti",
        )

    def _finish(
        s2: DataFrame, decisions: DataFrame, batch_id: int
    ) -> None:
        """Complete the trigger for the decided batch: LSH survivors
        → SemDeDup → decontam → curated table; exact-stage survivors
        → content history."""
        dec = decisions.select("doc_id", "is_dup")
        rows = s2.join(dec, "doc_id")
        surv = rows.filter(~F.col("is_dup")).select(
            "doc_id", "text", "source", "content_hash"
        )
        if emb_path is not None and sem_codebook is not None:
            # two downstream consumers walk the survivor subtree (the
            # semdedup join + the final append) over per-cell state
            # reads — pin it once
            surv = surv.localCheckpoint()
            surv = _semdedup_stage(surv)
        if eval_shingles is not None:
            surv = _decontam_stage(surv)
        if chunk_index is not None:
            # the chunk-ingest tail reads surv TWICE (vectors + the
            # curated append below) — pin once (batch-sized)
            surv = surv.localCheckpoint()
            _chunk_index_stage(surv)
        _append_keyed(
            surv.select("doc_id", "text", "source", "content_hash")
            .withColumn("batch_id", F.lit(batch_id)),
            curated_table,
        )
        _append_keyed(
            rows.select("doc_id", "content_hash"), hashes_table
        )

    def _chunk_index_stage(surv: DataFrame) -> None:
        """Chunk + featurize this trigger's final survivors and
        append their vectors to the persisted chunk index (module
        docstring: ordered before the commit-marker append; vec_id
        anti-join makes replays no-ops — the ann_stream discipline)."""
        from bitcoin_datawarehouse_spark.operators.chunk_retrieval import (
            chunk_vectors_frame,
        )
        from bitcoin_datawarehouse_spark.operators.text_stats import (
            chunk_windows_frame,
        )

        # in-batch vec_id dedup FIRST (the full ann_stream discipline,
        # review-caught): a noisy crawl emitting one doc_id twice in a
        # trigger passes the content-hash window with BOTH texts, and
        # two identical chunk vec_ids would both pass the anti-join
        vecs = chunk_vectors_frame(
            chunk_windows_frame(surv.select("doc_id", "text"))
        ).dropDuplicates(["vec_id"])
        # refresh first — a cached relation from an earlier trigger
        # would serve a stale replay guard (the ann_stream note)
        surv.sparkSession.catalog.refreshTable(chunk_index.lists_name)
        seen = (
            surv.sparkSession.table(chunk_index.lists_name)
            .select("vec_id")
        )
        fresh = vecs.join(seen, "vec_id", "left_anti")
        if fresh.limit(1).count() > 0:
            chunk_index.ingest(fresh)

    return (
        doc_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
