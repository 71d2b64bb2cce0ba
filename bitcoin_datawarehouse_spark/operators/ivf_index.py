"""Warehouse-persisted IVF ANN index (production serving loop).

``similarity_ivf_topk`` (embeddings_extra.py) demonstrates the IVF
plan SHAPE but re-assigns the whole corpus to centroids on every
call — its one corpus-sized exchange is the repartition feeding the
assignment kernel.  Production ANN serving (FAISS's IVF layout, the
public inverted-file design of Jégou et al.) builds that assignment
ONCE and persists the inverted lists; a search then touches only the
probed lists.  This module is the similarity twin of the dedup
domain's ``LshDedupIndex`` (lsh_index.py):

* ``build`` assigns every vector to its nearest centroid with the
  dim-ordered Arrow kernel (bit-equal to the min_by formulation and
  the DuckDB oracle) and writes the inverted lists
  ``(centroid_id, vec_id, e)`` BUCKETED BY centroid_id
  (``Warehouse.write_bucketed``) — whole centroid lists land in one
  bucket's files.  The centroid codebook (a model, not data)
  persists as a tiny warehouse table.
* ``search`` picks each query's ``nprobe`` nearest centroids in an
  Arrow kernel over the DISTRIBUTED query frame (the codebook rides
  the closure; same fold order and tie-break as the SQL oracle) — no
  collect of query vectors, so serving cost is independent of the
  query-batch size — and scans the
  persisted lists with a LITERAL ``centroid_id IN (...)`` filter —
  on the bucketed layout Spark prunes unprobed buckets at planning
  time (``SelectedBucketsCount`` in the plan), so the scan itself is
  ~nprobe/n_centroids of the index.  No corpus-sized exchange
  remains anywhere in the search plan (plan-tested): candidates ride
  a broadcast join, the rerank is a per-batch partial-top-k Arrow
  kernel, and the only shuffle carries partitions×queries×k rows
  into the final window.
* ``ingest`` assigns a batch of NEW vectors against the persisted
  codebook and appends them to the lists in the SAME bucket layout
  (``Warehouse.append_bucketed``) — per-ingest cost ∝ batch, and
  subsequent searches see the new vectors with no rebuild.
* ``delete`` tombstones vectors in a deletes-sized sidecar table
  (the deletion-vector / merge-on-read pattern — a bucketed table
  has no per-bucket overwrite, so eager removal would be a full
  rewrite per delete): ``search`` anti-joins the sidecar (broadcast)
  and ``compact`` applies it physically and clears it.  Re-ingesting
  a tombstoned vec_id un-deletes it.

Search results are BIT-IDENTICAL to ``similarity_ivf_topk`` (same
kernel fold order, same tie-breaks), so both share one SQL oracle —
the persisted path is a physical-layout change only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from bitcoin_datawarehouse_spark.functions.vectors import (
    cosine_grid,
    norm_col,
    read_vectors,
)
from bitcoin_datawarehouse_spark.operators.embeddings_extra import (
    IVF_N_CENTROIDS,
    IVF_NPROBE,
    IVF_TOPK_ORACLE,
    _nearest_centroid_kernel_impl,
    _normed,
    collect_codebook,
    probe_assignments,
)
from bitcoin_datawarehouse_spark.operators.similarity import (
    N_QUERIES,
    TOP_K,
)
from bitcoin_datawarehouse_spark.pipeline.catalog import Warehouse
from bitcoin_datawarehouse_spark.registry import query
from bitcoin_datawarehouse_spark.functions.localframe import local_rows_df


class IvfIndex:
    """Persisted bucketed inverted-file index over an embedding corpus."""

    #: auto-compact the lists table once it accretes this many parquet
    #: files (each ingest appends its own files per bucket) — the same
    #: maintenance default as LshDedupIndex.AUTO_COMPACT_FILES
    AUTO_COMPACT_FILES = 64

    def __init__(
        self,
        warehouse: Warehouse,
        schema: str = "ann_index",
        name: str = "embeddings",
        n_centroids: int = IVF_N_CENTROIDS,
        nprobe: int = IVF_NPROBE,
        auto_compact_files: int | None = AUTO_COMPACT_FILES,
        payload: str = "vec",
    ) -> None:
        if payload not in ("vec", "pq"):
            raise ValueError(f"payload must be 'vec' or 'pq': {payload!r}")
        #: what the inverted lists carry per member: the raw vector
        #: (``vec`` — exact cosine rerank at search) or the
        #: nibble-packed product-quantization code (``pq`` — ADC
        #: rerank over 4-byte codes; the faiss IVF-PQ layout, 128×
        #: less list storage).  Build/ingest/compact/bucket-pruning
        #: machinery is payload-agnostic; only the list row and the
        #: rerank kernel differ.
        self.payload = payload
        self.wh = warehouse
        self.schema = schema
        # The bucketed lists live in the session-GLOBAL catalog while
        # the codebook lives under the warehouse root — so the lists
        # table name carries a digest of the resolved root: two
        # indexes with the same schema/name over DIFFERENT warehouses
        # must not silently share (and clobber) one catalog table
        # while their codebooks stay separate.
        import hashlib as _hl

        root_tag = _hl.md5(
            str(warehouse.root.resolve()).encode()
        ).hexdigest()[:8]
        # payload-tagged so a vec and a pq index under the same
        # schema/name never share (and corrupt) one lists table
        tag = "lists" if payload == "vec" else "pqlists"
        self.lists_table = f"{name}_{tag}_{root_tag}"
        #: deletion-vector (tombstone) sidecar for :meth:`delete` —
        #: merge-on-read: search anti-joins it, compact() applies it
        #: physically.  Lives under the warehouse ROOT (not the
        #: session catalog): it must follow its lists table's
        #: warehouse, and a plain table needs no bucket metadata.
        self.deletes_table = f"{name}_{tag}_{root_tag}_deletes"
        self.centroids_table = f"{name}_centroids"
        self.pq_codebook_table = f"{name}_pq_codebook"
        self.n_centroids = n_centroids
        self.nprobe = nprobe
        self.auto_compact_files = auto_compact_files
        #: session-catalog name of the bucketed lists table (bucketing
        #: metadata lives in the catalog, see Warehouse.write_bucketed)
        self.lists_name = f"{schema}_{self.lists_table}"
        warehouse.create_schema(schema)

    # -- build -------------------------------------------------------------
    def build(
        self,
        emb: DataFrame,
        centroids: DataFrame | None = None,
        sub_codebooks=None,
    ) -> None:
        """Assign ``emb`` (vec_id, e) to centroids and persist the
        bucketed inverted lists + the codebook.

        ``centroids`` (centroid_id, ce) defaults to the vectors with
        the smallest vec_ids — the same fixed, engine-independent
        quantizer the ``similarity_ivf_topk`` gate pins (a trained
        k-means codebook from operators/kmeans.py plugs in unchanged:
        only the codebook rows differ, never the plan).

        One corpus pass: the assignment kernel carries the vector
        through (keep_vec) so the lists are written directly from the
        kernel output — build is where the corpus-sized exchange
        lives, paid once instead of per search.
        """
        # a REBUILD starts from a clean slate: a stale deletes sidecar
        # from the previous index generation would silently suppress
        # (and, at the next compact, physically remove) vectors that
        # exist in the new build (review-caught)
        if self.wh.table_exists(self.schema, self.deletes_table):
            self.wh.drop_table(self.schema, self.deletes_table)
        emb = emb.select("vec_id", "e")
        if centroids is None:
            centroids = emb.filter(
                F.col("vec_id") < self.n_centroids
            ).select(
                F.col("vec_id").alias("centroid_id"),
                F.col("e").alias("ce"),
            )
        cent = centroids.withColumn("cn", norm_col(F.col("ce")))
        # Overlap the small path-based model writes (codebook, PQ
        # sub-codebooks) with the corpus-sized lists write from a
        # 1-thread pool (guide §2.6: the writes were only sequential
        # because the driver called them sequentially; write_atomic is
        # path-based + uuid-temp-dir, so thread-safe).  The lists
        # write stays on the MAIN thread because write_bucketed is a
        # catalog (saveAsTable/Derby) op — the one class of action
        # CLAUDE.md keeps single-threaded.  Both complete before build
        # returns, so reader-visible ordering is unchanged.
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.util import inheritable_thread_target

        # each pool task inherits the caller's job group and tags
        with ThreadPoolExecutor(max_workers=1) as pool:
            model_futs = [
                pool.submit(
                    inheritable_thread_target(self.wh.spark)(self.wh.write_atomic),
                    cent,
                    self.schema,
                    self.centroids_table,
                    coalesce=1,
                )
            ]
            if self.payload == "pq":
                # the PQ sub-codebooks are part of the persisted model —
                # default to the deterministic smallest-vec_ids seed (a
                # per-subspace trained codebook passes in unchanged);
                # the collect itself runs on the main thread (it feeds
                # the lists kernel), only the write overlaps
                from bitcoin_datawarehouse_spark.operators.pq import (
                    _assign_and_encode,
                    _collect_subcodebooks,
                )

                cb = (
                    _collect_subcodebooks(emb)
                    if sub_codebooks is None
                    else sub_codebooks
                )
                model_futs.append(
                    pool.submit(
                        inheritable_thread_target(self.wh.spark)(
                            self._write_pq_codebooks
                        ),
                        emb.sparkSession,
                        cb,
                    )
                )
                lists = _assign_and_encode(emb, cent, cb)
                cols = ["centroid_id", "vec_id", "pq_code"]
            else:
                # (the kernel reads only (vec_id, e) from the corpus side
                # — norms are computed in-kernel)
                lists = _nearest_centroid_kernel_impl(
                    emb, cent, keep_vec=True
                )
                cols = ["centroid_id", "vec_id", "e"]
            # one bucket per centroid: a search probing p centroids reads
            # exactly p buckets' files (SelectedBucketsCount pruning); at
            # corpus scale use fewer buckets than centroids and pruning
            # still cuts the scan by the same hash-membership logic
            self.wh.write_bucketed(
                lists.select(*cols),
                self.schema,
                self.lists_table,
                bucket_cols=["centroid_id"],
                n_buckets=self.n_centroids,
                sort_cols=["centroid_id"],
            )
            for fut in model_futs:
                fut.result()

    def _write_pq_codebooks(self, spark: SparkSession, cb) -> None:
        rows = [
            (m, c, [float(x) for x in cb[m][c]])
            for m in range(cb.shape[0])
            for c in range(cb.shape[1])
        ]
        self.wh.write_atomic(
            local_rows_df(spark, 
                rows, "m int, code int, ce array<double>"
            ),
            self.schema,
            self.pq_codebook_table,
            coalesce=1,
        )

    def _pq_codebooks(self):
        """(M, K, SUB_DIM) numpy sub-codebooks from the persisted
        model table, (m, code)-ascending."""
        import numpy as np

        rows = sorted(
            self.wh.read(self.schema, self.pq_codebook_table).collect(),
            key=lambda r: (r["m"], r["code"]),
        )
        m_count = rows[-1]["m"] + 1
        k = rows[-1]["code"] + 1
        mat = np.array(
            [list(r["ce"]) for r in rows], dtype=np.float64
        )
        return mat.reshape(m_count, k, -1)

    def exists(self) -> bool:
        return self.wh.table_exists(self.schema, self.centroids_table)

    def _codebook(self):
        """(ids, cmat, cn) numpy codebook, centroid_id-ascending —
        the driver-side model every search/ingest shares (extraction
        owned by ``embeddings_extra.collect_codebook``)."""
        return collect_codebook(
            self.wh.read(self.schema, self.centroids_table)
        )

    # -- ingest ------------------------------------------------------------
    def ingest(self, new_emb: DataFrame) -> None:
        """Assign a batch of NEW vectors (vec_id, e) against the
        persisted codebook and append them to the inverted lists in
        the same bucket layout.  Cost ∝ batch; no rebuild, no touch
        of the existing lists' files.

        Re-ingesting a TOMBSTONED vec_id un-deletes it with the new
        row winning: tombstones are applied physically first (one
        compact — the old row must not resurface next to the new one,
        and the new vector may differ), then the batch appends.  The
        intersection probe is a broadcast of the deletes-sized
        sidecar against the batch, so the common non-intersecting
        ingest stays ∝ batch."""
        if self.wh.table_exists(self.schema, self.deletes_table):
            dels = self.wh.read(self.schema, self.deletes_table)
            hit = (
                new_emb.select("vec_id")
                .join(F.broadcast(dels), "vec_id", "left_semi")
                .limit(1)
                .count()
            )
            if hit:
                self.compact()
        cent = self.wh.read(self.schema, self.centroids_table)
        if self.payload == "pq":
            from bitcoin_datawarehouse_spark.operators.pq import (
                _assign_and_encode,
            )

            lists = _assign_and_encode(
                new_emb.select("vec_id", "e"), cent, self._pq_codebooks()
            )
            cols = ["centroid_id", "vec_id", "pq_code"]
        else:
            lists = _nearest_centroid_kernel_impl(
                new_emb.select("vec_id", "e"), cent, keep_vec=True
            )
            cols = ["centroid_id", "vec_id", "e"]
        self.wh.append_bucketed(
            lists.select(*cols),
            self.schema,
            self.lists_table,
            bucket_cols=["centroid_id"],
            n_buckets=self.n_centroids,
            sort_cols=["centroid_id"],
        )
        if (
            self.auto_compact_files
            and self._lists_file_count() >= self.auto_compact_files
        ):
            self.compact()

    # -- delete ------------------------------------------------------------
    def delete(self, vec_ids) -> None:
        """Tombstone vectors — the deletion-vector / merge-on-read
        pattern (Delta deletion vectors, Lucene live-docs): a bucketed
        table has no per-bucket overwrite, so a surgical rewrite per
        delete would be either a full-table rewrite or a layout break.
        Instead deletes land in a tiny sidecar table; ``search``
        anti-joins it (broadcast, deletes-sized) and :meth:`compact`
        applies it physically and clears it.  Cost ∝ deletes, never
        ∝ corpus.

        ``vec_ids``: an iterable of ids or a DataFrame with a
        ``vec_id`` column.  Deleting an id that seeded a CENTROID
        removes it as a candidate only — the codebook is a persisted
        model, not corpus membership (same contract as FAISS
        IDSelector removal: the coarse quantizer is untouched).
        """
        spark = self.wh.spark
        if not isinstance(vec_ids, DataFrame):
            vec_ids = local_rows_df(spark, 
                [(int(v),) for v in vec_ids], "vec_id long"
            )
        # coalesce(1) on BOTH paths: the distinct() shuffle would
        # otherwise append shuffle-partition-many near-empty files per
        # call, and the sidecar is broadcast by EVERY search
        dels = vec_ids.select("vec_id").distinct().coalesce(1)
        if self.wh.table_exists(self.schema, self.deletes_table):
            self.wh.append(dels, self.schema, self.deletes_table)
        else:
            self.wh.write_atomic(
                dels, self.schema, self.deletes_table, coalesce=1
            )

    def _live_lists(self) -> DataFrame:
        """The lists table with tombstones merged on read (broadcast
        anti-join against the deletes sidecar, if any).

        Refreshes the catalog relation first: appends may have run
        through a different session (foreachBatch clones), and this
        session's cached relation would otherwise serve the file
        listing it saw last — a stale read for search, DATA LOSS for
        the compact() read-rewrite cycle (see compact's note)."""
        self.wh.spark.catalog.refreshTable(self.lists_name)
        lists = self.wh.spark.table(self.lists_name)
        if self.wh.table_exists(self.schema, self.deletes_table):
            dels = self.wh.read(self.schema, self.deletes_table)
            lists = lists.join(F.broadcast(dels), "vec_id", "left_anti")
        return lists

    def _lists_file_count(self) -> int:
        """Parquet file count at the lists table's location — the
        auto-compaction trigger.  Counts through the Hadoop FS API so
        ANY warehouse scheme (file:, hdfs:, s3a:) counts correctly; a
        bare local glob returns 0 on remote schemes and would
        silently disable the AUTO_COMPACT_FILES contract."""
        from bitcoin_datawarehouse_spark.pipeline.catalog import (
            _require_local_scheme,
            hadoop_fs,
        )

        spark = self.wh.spark
        wdir = spark.conf.get("spark.sql.warehouse.dir", "")
        loc = f"{wdir.rstrip('/')}/{self.lists_name.lower()}"
        fs_path = hadoop_fs(spark, loc)
        if fs_path is not None:
            fs, hpath = fs_path
            if not fs.exists(hpath):
                return 0
            return sum(
                1
                for st in fs.listStatus(hpath)
                if st.getPath().getName().endswith(".parquet")
            )
        # no JVM gateway (Spark Connect session): a local glob is only
        # correct for a file: warehouse — for any other scheme,
        # returning 0 would break the AUTO_COMPACT_FILES contract
        # silently, so refuse loudly instead
        _require_local_scheme(
            wdir,
            "IvfIndex file counting (pass auto_compact_files=None and "
            "run compact() explicitly)",
        )
        import glob as _glob

        local = wdir.removeprefix("file:")
        return len(
            _glob.glob(f"{local}/{self.lists_name.lower()}/*.parquet")
        )

    def compact(self) -> int:
        """Rewrite the inverted lists as ONE bucketed write: every
        ``ingest`` appends its own files per bucket, so a long ingest
        history accretes small files inside each bucket (same failure
        mode ``LshDedupIndex`` auto-compacts away).  Re-clustering
        through ``write_bucketed`` preserves the bucket layout — and
        search results bit-exactly (kernel folds are row-order
        independent per row; the final window re-sorts).  Returns the
        file count after compaction, or -1 when the session cannot
        count files (no JVM gateway + non-local warehouse) — the
        compaction itself has SUCCEEDED at that point, so raising
        would report a phantom failure (review-caught)."""
        spark = self.wh.spark
        # REFRESH before the read-rewrite cycle: appends may have run
        # through a DIFFERENT session (foreachBatch clones — the
        # streaming ingest loops), and this session's cached relation
        # would then list only the files it saw last.  Compacting from
        # that stale snapshot SILENTLY DROPS every row appended since
        # (observed: a stream's trigger-1 batch vanished after its own
        # auto-compaction, because the probe had read the table
        # between triggers and pinned the stale listing) — staleness
        # here is data loss, not a lagging read.
        spark.catalog.refreshTable(self.lists_name)
        # stage through a plain warehouse table: write_bucketed DROPs
        # the target first, and DROP TABLE auto-uncaches dependent
        # plans — a cache of spark.table(lists) would be invalidated
        # mid-rewrite and recompute against deleted files
        staging = f"{self.lists_table}__compact_src"
        # stage the LIVE rows: compaction is where merge-on-read
        # tombstones (delete()) apply physically — the rewritten lists
        # carry no deleted rows, so the sidecar can be cleared
        cols = spark.table(self.lists_name).columns
        self.wh.write_atomic(
            self._live_lists().select(*cols), self.schema, staging
        )
        try:
            self.wh.write_bucketed(
                self.wh.read(self.schema, staging),
                self.schema,
                self.lists_table,
                bucket_cols=["centroid_id"],
                n_buckets=self.n_centroids,
                sort_cols=["centroid_id"],
            )
        finally:
            self.wh.drop_table(self.schema, staging)
        if self.wh.table_exists(self.schema, self.deletes_table):
            self.wh.drop_table(self.schema, self.deletes_table)
        try:
            return self._lists_file_count()
        except NotImplementedError:
            return -1

    #: broadcast the probe table only while it is plausibly executor-
    #: memory-sized (rows × nprobe × dim doubles); beyond this the
    #: join degrades to a shuffle of the PROBE side only — the lists
    #: side is bucketed by centroid_id, so Spark reads it exchange-
    #: free and shuffles the probes to the bucket layout.  A million-
    #: query scoring batch therefore never serializes through the
    #: driver or a single broadcast.
    BROADCAST_PROBE_ROWS = 100_000

    # -- search ------------------------------------------------------------
    def search(
        self,
        queries: DataFrame,
        top_k: int = TOP_K,
        exclude_self: bool = True,
        exclude_group_div: int | None = None,
        n_queries: int | None = None,
    ) -> DataFrame:
        """Top-k nearest neighbors for ``queries`` (query_id, qe) from
        the persisted lists: (query_id, cand_id, cosine, rnk).

        ``exclude_group_div``: when ids encode a grouping as
        ``group * div + member`` (chunk retrieval: vec_id =
        doc_id · 2²⁰ + chunk_ix), drop candidates from the QUERY'S OWN
        GROUP before the rerank — the filter rides the candidate join,
        so the top-k slots are never wasted on in-group hits (a
        post-search filter would under-fill them).

        ``n_queries``: OPTIONAL UPPER BOUND on ``queries``' row count.
        When given, the broadcast-vs-shuffle gate for the probe side
        skips its row-count job entirely.  Contract: the value must be
        ≥ the true count — an over-estimate is always safe (it can
        only push a broadcastable probe side onto the shuffle path),
        but an UNDER-estimate makes the gate broadcast a probe frame
        of ``true_count × nprobe`` rows regardless of its actual size,
        which is an executor/driver memory hazard at large batch
        sizes.  Pass it only for workloads whose size is statically
        bounded (the gate queries, streaming triggers with a counted
        batch); leave it ``None`` to let search count.

        Probe selection runs IN A KERNEL over the distributed query
        frame — the codebook (a model, not data) broadcasts into the
        same dim-ordered fold the corpus-side assignment uses, with
        the exact oracle tie-break (cosine desc, centroid_id asc) —
        so serving cost is independent of the query-batch size: no
        ``collect()`` of query vectors anywhere.  The only driver
        materialization is the DISTINCT probed centroid set (bounded
        by the codebook, needed as a LITERAL IN-filter for planning-
        time bucket pruning).  That costs a SECOND execution of the
        cheap probe kernel (the main plan re-runs it inline) —
        deliberately NOT a cache: search returns a lazy frame with no
        release hook, and a tracked cache per call would accrete
        batch-sized executor storage across a serving loop
        (review-caught).  Probes broadcast while batch-sized, else
        shuffle to the lists' bucket layout.  Rerank is a per-batch
        partial top-k kernel (union of per-batch winners ⊇ global
        winners); the final window ranks batches×queries×k rows.
        Bit-identical to ``similarity_ivf_topk``.
        """
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        spark = queries.sparkSession
        # cn (the stored JVM-fold norms) is not consumed here: the
        # probe kernel recomputes the centroid norms in numpy, as
        # similarity_ivf_topk's does, bit-equal by the vectors contract
        cids, cmat, _cn = self._codebook()
        probes = probe_assignments(queries, cids, cmat, self.nprobe)
        # model-sized collect (≤ n_centroids values), NOT batch-sized
        probed_cents = sorted(
            r["centroid_id"]
            for r in probes.select("centroid_id").distinct().collect()
        )

        # bucketed scan with a literal IN-filter: planning-time bucket
        # pruning reads only the probed lists' files; tombstoned rows
        # (delete()) drop via a broadcast anti-join on the sidecar
        lists = self._live_lists().filter(
            F.col("centroid_id").isin(probed_cents)
        )
        # exact by construction (each query emits ≤ nprobe rows) and
        # avoids a third probe-kernel execution: the gate only needs
        # the ROW COUNT, which the query side gives with a cheap
        # column-pruned count — or, when the caller statically knows
        # its workload size (the gate queries, streaming triggers with
        # a counted batch), the ``n_queries`` hint skips even that job
        # (r12; the hint only gates a broadcast-vs-shuffle choice, so
        # a generous over-estimate is safe, an under-estimate only
        # risks broadcasting a larger-than-intended probe side)
        n_probe_rows = (
            n_queries if n_queries is not None else queries.count()
        ) * self.nprobe
        probe_side = (
            F.broadcast(probes)
            if n_probe_rows <= self.BROADCAST_PROBE_ROWS
            else probes
        )
        payload_col = "pq_code" if self.payload == "pq" else "e"
        sub = probe_side.join(lists, "centroid_id").select(
            "query_id", F.col("vec_id").alias("cand_id"), payload_col, "qe"
        )
        if exclude_self:
            sub = sub.filter(F.col("cand_id") != F.col("query_id"))
        if exclude_group_div is not None:
            g = int(exclude_group_div)
            # integer division, never float: group ids can exceed the
            # double mantissa at production id widths
            sub = sub.filter(
                F.expr(f"cand_id DIV {g} != query_id DIV {g}")
            )

        if self.payload == "pq":
            return self._search_pq(sub, top_k)

        schema = T.StructType(
            [
                T.StructField("query_id", T.LongType()),
                T.StructField("cand_id", T.LongType()),
                T.StructField("cosine", T.DoubleType()),
            ]
        )

        def partial_topk(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                out_q, out_c, out_s = [], [], []
                for qid, grp in pdf.groupby("query_id", sort=False):
                    q = np.array(grp["qe"].iloc[0], dtype=np.float64)
                    cand = grp["cand_id"].to_numpy(dtype=np.int64)
                    gmat = read_vectors(grp["e"])
                    gcos = cosine_grid(gmat, q[None, :])[0][:, 0]
                    order = np.lexsort((cand, -gcos))[:top_k]
                    out_q.extend([int(qid)] * len(order))
                    out_c.extend(cand[order])
                    out_s.extend(gcos[order])
                yield pd.DataFrame(
                    {"query_id": out_q, "cand_id": out_c, "cosine": out_s}
                )

        partial = sub.mapInPandas(partial_topk, schema)
        w = W.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("cand_id")
        )
        return (
            partial.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= top_k)
            .select("query_id", "cand_id", "cosine", "rnk")
        )

    def _search_pq(self, sub: DataFrame, top_k: int) -> DataFrame:
        """ADC rerank half of :meth:`search` for the ``pq`` payload:
        (query_id, cand_id, adc_dist, rnk) — bit-identical to
        ``similarity_ivfpq_topk`` (same subspace-ordered total, same
        tie-break), so both share one SQL oracle.  Per-batch partial
        top-k (the union of per-batch winners contains the global
        winners under the (adist, cand_id) total order), final window
        over batches×queries×k rows."""
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        from bitcoin_datawarehouse_spark.functions.numeric import (
            str_round6,
        )
        from bitcoin_datawarehouse_spark.operators.pq import (
            PQ_M,
            PQ_SUB_DIM,
            _sub_d2,
        )

        cb = self._pq_codebooks()
        schema = T.StructType(
            [
                T.StructField("query_id", T.LongType()),
                T.StructField("cand_id", T.LongType()),
                T.StructField("adist", T.DoubleType()),
            ]
        )

        def partial_adc(batches):
            luts = {}
            for pdf in batches:
                if pdf.empty:
                    continue
                out_q, out_c, out_d = [], [], []
                packed = pdf["pq_code"].to_numpy(dtype=np.int64)
                nibbles = [
                    (packed >> (4 * m)) & 0xF for m in range(PQ_M)
                ]
                cand_all = pdf["cand_id"].to_numpy(dtype=np.int64)
                for qid, idx in pdf.groupby(
                    "query_id", sort=False
                ).groups.items():
                    if qid not in luts:
                        qe = np.array(
                            pdf.loc[idx[0], "qe"], dtype=np.float64
                        )[None, :]
                        luts[qid] = [
                            _sub_d2(
                                qe[
                                    :,
                                    m * PQ_SUB_DIM : (m + 1) * PQ_SUB_DIM,
                                ],
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
                    order = np.lexsort((cand_all[pos], total))[:top_k]
                    out_q.extend([int(qid)] * len(order))
                    out_c.extend(cand_all[pos][order])
                    out_d.extend(total[order])
                yield pd.DataFrame(
                    {"query_id": out_q, "cand_id": out_c, "adist": out_d}
                )

        partial = sub.mapInPandas(partial_adc, schema)
        w = W.partitionBy("query_id").orderBy("adist", "cand_id")
        return (
            partial.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= top_k)
            .select(
                "query_id",
                "cand_id",
                str_round6(F.col("adist")).alias("adc_dist"),
                F.col("rnk").cast("int").alias("rnk"),
            )
        )


def _scratch_index_search(
    spark: SparkSession,
    sf_dir: str,
    prefix: str,
    name: str,
    nprobe: int,
) -> DataFrame:
    """Shared body of the two persisted-index gate entries: build the
    index into a scratch warehouse (the corpus pass, paid once), then
    search the bounded query workload from the persisted lists.

    ONE deterministic scratch warehouse, reused (and overwritten)
    across invocations — residue/concurrency rules owned by
    ``pipeline.catalog.scratch_root``.
    """
    from bitcoin_datawarehouse_spark.pipeline.catalog import scratch_root

    scratch = scratch_root(prefix, sf_dir)
    emb = _normed(spark, sf_dir)
    idx = IvfIndex(
        Warehouse(spark, scratch),
        schema="ann_index",
        name=name,
        nprobe=nprobe,
    )
    idx.build(emb.select("vec_id", "e"))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    # ≤ N_QUERIES rows by the filter — a static upper bound, so
    # search skips its row-count job (over-estimates are safe)
    return idx.search(queries, n_queries=N_QUERIES)


@query("similarity_ivf_index_topk", oracle=IVF_TOPK_ORACLE)
def similarity_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search served from the PERSISTED bucketed index — the
    production twin of ``similarity_ivf_topk`` (same oracle, bit-
    identical rows).  The search plan alone has no corpus-sized
    exchange and bucket-prunes to the probed lists (plan-tested in
    tests/test_plans.py); scratch-warehouse notes on
    :func:`_scratch_index_search`."""
    return _scratch_index_search(
        spark, sf_dir, "bds_ivf", "fixture", IVF_NPROBE
    )


@query("similarity_ivf_index_topk_auto")
def similarity_ivf_index_topk_auto(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The production SERVING configuration assembled: the persisted
    bucketed index searched at the recall-targeted runtime nprobe
    (``embeddings_extra.auto_ivf_nprobe``, r7 VERDICT item 7) — the
    auto rule proven on the in-plan path drives the persisted path
    here, with the SAME adaptive oracle (both paths are bit-identical
    at equal nprobe by the shared-oracle contract of
    ``similarity_ivf_index_topk``).  Calibration is paid once per
    (session, corpus); the chosen integer then serves every batch."""
    from bitcoin_datawarehouse_spark.operators.embeddings_extra import (
        auto_ivf_nprobe,
    )

    return _scratch_index_search(
        spark,
        sf_dir,
        "bds_ivfauto",
        "fixture_auto",
        auto_ivf_nprobe(spark, sf_dir),
    )


from bitcoin_datawarehouse_spark import registry as _registry  # noqa: E402


def _attach_auto_oracle() -> None:
    from bitcoin_datawarehouse_spark.operators.embeddings_extra import (
        _auto_nprobe_oracle,
    )

    _registry.ORACLES["similarity_ivf_index_topk_auto"] = (
        _auto_nprobe_oracle()
    )


_attach_auto_oracle()


def _ivfpq_index_oracle() -> str:
    from bitcoin_datawarehouse_spark.operators.pq import _ivfpq_oracle

    return _ivfpq_oracle()


@query("similarity_ivfpq_index_topk", oracle=_ivfpq_index_oracle())
def similarity_ivfpq_index_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF-PQ served from the PERSISTED index — the production twin
    of ``similarity_ivfpq_topk`` (same oracle, bit-identical rows):
    build writes (centroid_id, vec_id, pq_code) inverted lists
    BUCKETED by centroid_id plus the sub-codebook model table, search
    bucket-prunes to the probed lists and ADC-reranks over the 4-byte
    codes.  The raw vectors are never read at search time — the
    128×-compressed lists ARE the serving store."""
    from bitcoin_datawarehouse_spark.pipeline.catalog import scratch_root

    scratch = scratch_root("bds_ivf", sf_dir)
    emb = _normed(spark, sf_dir)
    idx = IvfIndex(
        Warehouse(spark, scratch),
        schema="ann_index",
        name="fixture_pq",
        payload="pq",
    )
    idx.build(emb.select("vec_id", "e"))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    return idx.search(queries)
