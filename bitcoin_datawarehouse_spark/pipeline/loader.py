"""Load operators: full refresh, incremental merge, delete, probes.

Reference parity (SURVEY.md §2.2): this is the Spark rebuild of
``PgLoader`` (reference ``data_integration/utils/worker/pg_loader.py``):

* full refresh   — truncate+reload (``:126-163``) → atomic overwrite;
* incremental    — staged upsert ``INSERT … ON CONFLICT DO UPDATE``
  (``:165-270``) → dropDuplicates + left-anti join + unionByName;
* delete         — ``DELETE … WHERE`` (``:272-294``) → filter-rewrite;
* MAX probe      — watermark read (``:296-318``);
* COUNT probe    — post-load verification (``:320-339``); a load
  returns the count of rows it wrote, observed on the write itself
  (``DataFrame.observe``), so the pipeline needs no second scan.
  ``get_record_count`` stays as a standalone probe.  The same
  observation takes the written table's MAX of a ``watermark_col``
  (:attr:`Loader.written_max`), so the pipeline needs no MAX probe
  after its own loads either.

Merge semantics preserved exactly: new row wins on key conflict and
ALL non-key columns are replaced (``pg_loader.py:246-259``).  Two
deliberate hardenings over the reference (SURVEY §2.7/§2.8): a batch
with duplicate keys would make Postgres ``ON CONFLICT`` error — here
intra-batch duplicates are resolved deterministically (last by
``order_col`` if given, else an arbitrary-but-stable first); and a
batch with new/missing columns would fail the reference's INSERT —
here ``unionByName(allowMissingColumns=True)`` fills either side's
missing columns with null (schema drift tolerated, documented).

Scale notes: the merge reads the target once and writes it once (a
Hive-partitioned target: only the partitions the batch touches) —
one shuffle on the merge keys for the anti-join, or none when the
batch is broadcast, which is the common incremental case (batches are
"rows since last watermark").  The broadcast decision comes from the
planner's own size estimate of the deduped batch against the session's
``spark.sql.autoBroadcastJoinThreshold``: exact for the driver-built
batches a pipeline source ingests (a ``LocalRelation``), so those merge
in one write action with no count and no cache.  Only a batch the
planner cannot size (an RDD-backed frame, a filtered scan of a large
table) is cached and counted, and broadcast when it holds at most
``BROADCAST_BATCH_MAX_ROWS`` rows.  No driver-side row handling anywhere.

This module holds merge semantics only.  Where rows physically land
(partition directories, the clustered partition rewrite, the
tmp→live directory swap) is :class:`Warehouse`'s decision; every
operation here keeps the layout it finds on disk.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, functions as F
from pyspark.sql.window import Window

from bitcoin_datawarehouse_spark.functions.cachereg import cache_tracked
from bitcoin_datawarehouse_spark.pipeline.catalog import Warehouse

#: broadcast the incremental batch into the anti-join below this many
#: rows — incremental batches are usually tiny relative to the target
BROADCAST_BATCH_MAX_ROWS = 2_000_000


class Loader:
    """Load strategies for one ``schema.table`` target."""

    def __init__(self, wh: Warehouse, schema: str, table: str) -> None:
        self.wh = wh
        self.schema = schema
        self.table = table
        #: MAX(watermark_col) of the table the last load wrote (None
        #: before a load, or when the written table lacks the column)
        self.written_max = None

    # -- strategies --------------------------------------------------------
    def load_full_refresh(
        self, df: DataFrame, watermark_col: str | None = None
    ) -> int:
        """Atomic replace (reference truncate+insert, pg_loader.py:126-163)
        in the target's current layout; returns the rows written."""
        cols = self.wh.partition_cols(self.schema, self.table)
        return self._write_counted(df, watermark_col, cols)

    def _write_counted(
        self,
        df: DataFrame,
        watermark_col: str | None,
        partition_by: list[str] | None,
    ) -> int:
        """Replace the target with ``df``, Hive-partitioned by
        ``partition_by`` when given; the row count and the MAX of
        ``watermark_col`` are observed on the write, so they cost no
        extra Spark job."""
        obs = Observation()
        aggs = [F.count(F.lit(1)).alias("rows")]
        if watermark_col in df.columns:
            aggs.append(F.max(watermark_col).alias("max"))
        self.wh.write_atomic(
            df.observe(obs, *aggs), self.schema, self.table,
            partition_by=partition_by,
        )
        got = obs.get
        self.written_max = got.get("max")
        return got["rows"]

    def load_incremental(
        self,
        df: DataFrame,
        unique_keys: list[str] | None,
        order_col: str | None = None,
        strict_schema: bool = False,
        watermark_col: str | None = None,
        partition_col: str | None = None,
    ) -> int:
        """Merge ``df`` into the target on ``unique_keys``; returns the
        rows the merge wrote (the whole table, or the touched partitions
        of a partitioned one) and leaves the merged table's
        MAX(``watermark_col``) in :attr:`written_max` (None after a
        touched-partition merge, which sees only a slice).

        Reference dispatch preserved (pg_loader.py:165-217): no keys →
        full refresh; target missing → create+insert; else upsert.  The
        target's layout on disk (:meth:`Warehouse.partition_cols`)
        picks the upsert:

        * flat — the whole-table merge: one anti-join against the
          target, one rewrite of it (:func:`_upsert`);
        * Hive-partitioned — the touched-partition merge, which costs
          O(touched partitions), not O(history)
          (:meth:`_merge_partitions`).

        ``partition_col`` lays out a target this load creates; a value
        that contradicts an existing layout raises ``ValueError``.

        ``strict_schema=True`` refuses a batch whose columns differ
        from the target (the reference's INSERT would have failed —
        a production control for catching upstream contract breaks);
        the default tolerates drift by null-filling either side.
        """
        cols = self.wh.partition_cols(self.schema, self.table)
        exists = cols is not None
        if not exists:
            cols = [partition_col] if partition_col else []
        elif partition_col and cols != [partition_col]:
            raise ValueError(
                f"{self.schema}.{self.table} is partitioned by {cols} on "
                f"disk; partition_col={partition_col!r} contradicts it"
            )
        if not unique_keys:
            return self._write_counted(df, watermark_col, cols)
        batch = _dedupe_batch(df, unique_keys, order_col)
        if not exists:
            return self._write_counted(batch, watermark_col, cols)
        # a batch under the broadcast threshold is evaluated by the two
        # legs (anti-join build side, union) of the one write action —
        # the pipeline's batches are driver rows, so that costs nothing.
        # Any other batch is cached: _upsert counts it, then both legs
        # read it, and its upstream plan may be arbitrarily expensive.
        # The partitioned merge always caches: it also collects the
        # batch's partition values.
        cached = bool(cols) or not _fits_broadcast(batch)
        if cached:
            batch = cache_tracked(batch)
        try:
            if cols:
                return self._merge_partitions(
                    batch, unique_keys, cols, strict_schema
                )
            old = self.wh.read(self.schema, self.table)
            if strict_schema:
                self._refuse_drift(batch, old)
            return self._write_counted(
                _upsert(old, batch, unique_keys), watermark_col, cols
            )
        finally:
            if cached:
                batch.unpersist()

    def _merge_partitions(
        self,
        batch: DataFrame,
        unique_keys: list[str],
        cols: list[str],
        strict_schema: bool,
    ) -> int:
        """Partition-scoped upsert of the deduped ``batch`` into a target
        Hive-partitioned by ``cols``, rewriting ONLY the partitions the
        batch touches; returns the rows of those partitions.

        This is the merge that survives 100 TB: the whole-table merge
        reads and rewrites the whole table per batch, which is fine for
        dimension-sized tables and absurd for a date-partitioned fact
        table — a daily batch should cost O(touched days), not
        O(history).  Mechanics:

        1. the batch's distinct outermost partition values prune the
           target read to the touched directories
           (:meth:`Warehouse.read_partitions`);
        2. the usual anti-join + union on that slice;
        3. :meth:`Warehouse.overwrite_partitions` replaces exactly the
           touched partition directories, leaving every other
           partition's files physically untouched.

        The written rows are a slice, so their MAX is not the table's:
        :attr:`written_max` is None and the pipeline's next run probes.

        The merge key set should include (or functionally determine)
        the partition column — a row whose partition value CHANGES
        between loads would otherwise survive in its old partition.
        Schema drift caveat: because only touched partitions rewrite,
        a batch with NEW columns leaves old partitions on the old
        schema — plain parquet reads then resolve to an arbitrary
        footer; read such tables with ``mergeSchema`` or keep
        partitioned facts on ``strict_schema`` discipline.
        """
        missing = [c for c in cols if c not in batch.columns]
        if missing:
            raise ValueError(
                f"{self.schema}.{self.table}: batch lacks partition "
                f"column(s) {missing}"
            )
        if strict_schema:
            self._refuse_drift(batch, self.wh.read(self.schema, self.table))
        touched = [r[0] for r in batch.select(cols[0]).distinct().collect()]
        old = self.wh.read_partitions(
            self.schema, self.table, cols[0], touched,
            session=batch.sparkSession,
        )
        merged = batch if old is None else _upsert(old, batch, unique_keys)
        obs = Observation()
        self.wh.overwrite_partitions(
            merged.observe(obs, F.count(F.lit(1)).alias("rows")),
            self.schema, self.table, cols,
        )
        self.written_max = None
        return obs.get["rows"]

    def _refuse_drift(self, batch: DataFrame, old: DataFrame) -> None:
        if set(batch.columns) != set(old.columns):
            raise ValueError(
                f"{self.schema}.{self.table}: batch schema drift "
                f"(batch-only: {sorted(set(batch.columns) - set(old.columns))}, "
                f"target-only: {sorted(set(old.columns) - set(batch.columns))})"
            )

    def load_scd2(
        self,
        df: DataFrame,
        unique_keys: list[str],
        batch_ts: str,
        compare_cols: list[str] | None = None,
        order_col: str | None = None,
    ) -> None:
        """Slowly-changing-dimension Type-2 merge: keep FULL history.

        The target carries the batch's business columns plus
        ``valid_from``/``valid_to`` timestamps and ``is_current`` —
        the standard Kimball SCD2 layout.  Per load:

        * a key whose ``compare_cols`` (default: every non-key
          column) CHANGED gets its current version closed
          (``valid_to = batch_ts``, ``is_current = false``) and a new
          open version inserted;
        * a NEW key gets its first open version;
        * an unchanged key is untouched — re-delivering an identical
          batch is a NO-OP (crash/replay-safe by value, not by
          bookkeeping);
        * closed history rows always pass through unmodified.

        ``batch_ts`` is an explicit timestamp string, never NOW():
        versions must be reproducible under replay, and loads must
        arrive in nondecreasing ``batch_ts`` order (enforced — an
        out-of-order batch would silently interleave history).

        Scale shape: one key-partitioned join of the CURRENT slice
        against the batch (batch broadcast when small) decides
        changed/new; history rows are a pass-through scan-and-rewrite
        — the same read-once/write-once contract as
        :meth:`load_incremental`, in the target's current layout.
        """
        ts = F.lit(batch_ts).cast("timestamp")
        open_to = F.lit(None).cast("timestamp")
        batch = cache_tracked(_dedupe_batch(df, unique_keys, order_col))
        try:
            stamped = (
                batch.withColumn("valid_from", ts)
                .withColumn("valid_to", open_to)
                .withColumn("is_current", F.lit(True))
            )
            cols = self.wh.partition_cols(self.schema, self.table)
            if cols is None:
                self.wh.write_atomic(stamped, self.schema, self.table)
                return
            # the target feeds FIVE subtrees of this load (time-order
            # probe + hist/closed/kept_cur/new_keys legs of the one
            # write action) — cache it or each re-scans the parquet
            # (CLAUDE.md shared-subgraph rule; review-caught: the
            # docstring's read-once contract was not what the plan did)
            old = cache_tracked(self.wh.read(self.schema, self.table))
            old.count()  # eager fill — concurrent subtrees of one action
            cur = old.filter(F.col("is_current"))
            hist = old.filter(~F.col("is_current"))
            # compared inside Spark, in the session zone that also
            # parses batch_ts — a collected valid_from is driver-local
            late = cur.filter(F.col("valid_from") > ts).agg(
                F.max("valid_from")
            ).first()[0]
            if late is not None:
                raise ValueError(
                    f"{self.schema}.{self.table}: SCD2 batch_ts "
                    f"{batch_ts!r} precedes current valid_from "
                    f"{late} — loads must be time-ordered"
                )
            cmp_cols = compare_cols or [
                c for c in batch.columns if c not in unique_keys
            ]
            small = batch.count() <= BROADCAST_BATCH_MAX_ROWS
            b = F.broadcast(batch) if small else batch
            # null-safe comparison: a NULL→value (or value→NULL) change
            # must open a version, so <=> not =
            diff = ~_all_equal(cmp_cols)
            changed_keys = cache_tracked(
                cur.alias("t")
                .join(b.alias("b"), unique_keys)
                .filter(diff)
                .select(*unique_keys)
            )
            changed_keys.count()  # eager: three consumers below
            ck = F.broadcast(changed_keys) if small else changed_keys
            closed = (
                cur.join(ck, unique_keys, "leftsemi")
                .withColumn("valid_to", ts)
                .withColumn("is_current", F.lit(False))
            )
            kept_cur = cur.join(ck, unique_keys, "left_anti")
            new_keys = batch.select(*unique_keys).join(
                cur.select(*unique_keys), unique_keys, "left_anti"
            )
            insert_keys = changed_keys.unionByName(new_keys)
            ik = F.broadcast(insert_keys) if small else insert_keys
            opened = stamped.join(ik, unique_keys, "leftsemi")
            merged = (
                hist.unionByName(closed)
                .unionByName(kept_cur)
                .unionByName(opened)
            )
            self.wh.write_atomic(
                merged, self.schema, self.table, partition_by=cols
            )
            changed_keys.unpersist()
            old.unpersist()
        finally:
            batch.unpersist()

    def current_of(self) -> DataFrame:
        """The dimension AS OF now — the ``is_current`` slice of an
        SCD2 target (the frame queries join against)."""
        return self.wh.read(self.schema, self.table).filter(
            F.col("is_current")
        )

    def as_of(self, ts: str) -> DataFrame:
        """Point-in-time slice of an SCD2 target: the version valid at
        ``ts`` (``valid_from <= ts < valid_to``, open-ended current
        rows included) — time travel by predicate, no snapshots."""
        t = F.lit(ts).cast("timestamp")
        return self.wh.read(self.schema, self.table).filter(
            (F.col("valid_from") <= t)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
        )

    def delete_by_condition(self, condition: str | Column) -> int:
        """DELETE WHERE (reference pg_loader.py:272-294) as a
        filter-rewrite in the target's layout; returns rows deleted.
        One Spark action: the row counts before and after the filter
        are observed on the write."""
        pred = F.expr(condition) if isinstance(condition, str) else condition
        before = Observation()
        # only rows whose condition is TRUE go (SQL DELETE semantics: a
        # NULL condition keeps the row).  The keep flag is computed
        # BELOW the observation: a predicate that folds to a constant
        # would otherwise prune the observed scan out of the plan, and
        # the count with it
        flagged = (
            self.wh.read(self.schema, self.table)
            .withColumn("__keep", ~F.coalesce(pred, F.lit(False)))
            .observe(before, F.count(F.lit(1)).alias("rows"))
        )
        kept = self._write_counted(
            flagged.filter("__keep").drop("__keep"),
            None,
            self.wh.partition_cols(self.schema, self.table),
        )
        return before.get["rows"] - kept

    # -- probes ------------------------------------------------------------
    def get_max_value(self, column: str):
        """Watermark read (reference pg_loader.py:296-318); None when
        the table does not exist — triggers first-sync full refresh
        (reference __main__.py:105-112)."""
        if not self.wh.table_exists(self.schema, self.table):
            return None
        df = self.wh.read(self.schema, self.table)
        if column not in df.columns:
            # the incremental column names a TARGET column; if a spec
            # change renamed/dropped it, degrade to the first-sync
            # path (full refresh) instead of failing the job
            return None
        return df.agg(F.max(column).alias("mx")).first()["mx"]

    def get_record_count(self) -> int:
        """COUNT(*) probe (reference pg_loader.py:320-339); 0 when absent."""
        if not self.wh.table_exists(self.schema, self.table):
            return 0
        return self.wh.read(self.schema, self.table).count()


def _upsert(old: DataFrame, batch: DataFrame, keys: list[str]) -> DataFrame:
    """Last write wins: the ``old`` rows whose key the batch does not
    carry, plus the whole batch (missing columns null-filled either
    side).  The batch is broadcast into the anti-join when the planner
    sizes it under the broadcast threshold, or else when a count finds
    it not backfill-sized."""
    if _fits_broadcast(batch) or batch.count() <= BROADCAST_BATCH_MAX_ROWS:
        keep = old.join(F.broadcast(batch), keys, "left_anti")
    else:
        keep = old.join(batch, keys, "left_anti")
    return keep.unionByName(batch, allowMissingColumns=True)


def _fits_broadcast(df: DataFrame) -> bool:
    """Whether the planner's size estimate of ``df`` is within the
    session's ``spark.sql.autoBroadcastJoinThreshold`` — the same test
    Spark's join selection applies.  Runs no job.  A frame the planner
    cannot size estimates at ``Long.MaxValue`` and never fits; a
    threshold of -1 (broadcast off) fits nothing."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    return 0 <= size <= conf.autoBroadcastJoinThreshold()


def _all_equal(cols: list[str]) -> Column:
    """AND-fold of null-safe equality between the ``t`` (target) and
    ``b`` (batch) sides of an aliased join — SCD2's change detector."""
    cond = F.lit(True)
    for c in cols:
        cond = cond & F.col(f"t.{c}").eqNullSafe(F.col(f"b.{c}"))
    return cond


def _dedupe_batch(
    df: DataFrame, keys: list[str], order_col: str | None
) -> DataFrame:
    """Resolve intra-batch key duplicates before the merge.

    With ``order_col``: keep the row with the greatest value (last
    write wins, ties broken arbitrarily-but-deterministically by the
    window sort).  Without: ``dropDuplicates`` keeps an arbitrary row —
    matching the reference's implicit assumption that sources are
    key-unique (SURVEY §2.7) while never erroring.
    """
    if order_col is None:
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
