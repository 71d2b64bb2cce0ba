"""Incrementally-maintained aggregate tables (materialized views).

A warehouse serving rollups over a 100-TB fact table cannot
re-aggregate the world on every ingest batch.  A
:class:`MaterializedAggView` persists the GROUP BY state and maintains
it per batch with work proportional to the CHANGE, not the base:

* **append-only batches are self-maintainable** for
  sum/count/min/max/avg: ``state' = combine(state, aggregate(batch))``
  — the base table is never re-read, and only the groups present in
  the batch are rewritten (classic incremental-view-maintenance
  algebra: the aggregate's commutative monoid absorbs the delta);
* **updates and deletes break self-maintainability** (min/max cannot
  be retracted from a running extreme, sums would need per-row
  retraction), so the view falls back to **affected-group recompute**:
  re-aggregate ONLY the groups present in the change set from the
  post-change base and splice them into the state.  Recompute work is
  one pass over the base with a semi-join filter on the touched
  groups — with the base partitioned/bucketed by a group-key prefix
  that pass partition-prunes to exactly the touched slices, and with
  parquet min/max stats the group-key filter skips row groups even
  unpartitioned.

State columns are internal: exact ``DECIMAL(38,10)`` sums
(order-independent — see functions/numeric.py), BIGINT counts, native
min/max, plus the group row count (so a group emptied by a
delete/update migration is dropped, not left as a zombie zero row).
The *read surface* derives the engine-neutral exposed columns from
state: 2-dp DOUBLE sums, 6-dp string-routed averages — decimal never
escapes.

FLAT state swaps ride :meth:`Warehouse.write_atomic`, so readers see
old-state-or-new-state, never a torn view, and snapshots/rollback work
on the view like any other table.  The PARTITIONED layouts
(``state_buckets`` / ``state_partition_key``) trade that for
partition-local rewrites through the catalog's partition verbs
(``Warehouse.read_partitions`` / ``overwrite_partitions``, which
also serve the partitioned-base reads) — the same contract as
``Loader.load_incremental`` into a partitioned target: a reader
concurrent with maintenance can see bucket A post-batch and bucket B
pre-batch, and there is no whole-view snapshot to roll back to.  Run
partitioned maintenance under ``Warehouse.lock`` when readers need a
consistent cross-partition view, or keep the flat layout.

Reference parity: the reference maintains no aggregates in-process —
its rollups live in opaque Dune query_ids (etl_job.csv:2-6) re-run
from scratch per sync.  This module is the warehouse-side equivalent
a Spark-first engine needs at scale.

The same algebra is exercised read-only (oracle-gated vs DuckDB) in
operators/matview_semantics.py; the stateful loop here is pinned by
tests/test_matview.py.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bitcoin_datawarehouse_spark.functions.cachereg import cache_tracked
from bitcoin_datawarehouse_spark.functions.numeric import DEC, str_round6

from .catalog import Warehouse
from .loader import BROADCAST_BATCH_MAX_ROWS

_NROWS = "__nrows"
_BUCKET = "__bucket"

#: auto bucket-count clamps: below 8 a directory tree loses to one
#: flat file; above 4096 the per-dir file/footer floor dominates a
#: maintenance rewrite (same ceiling as ZOrderedTable's block grid).
AUTO_BUCKETS_MIN = 8
AUTO_BUCKETS_MAX = 4096


def auto_state_buckets(n_groups: int) -> int:
    """Bucket count for ``state_buckets="auto"``: √G rounded to a
    power of two, clamped to [8, 4096].

    √G balances the two costs a bucketed state pays per batch: a
    batch touching T groups rewrites ≤T buckets of ~G/N groups each
    (wants N large), while the state read/write pays a per-directory
    file floor (wants N small); N=√G makes the touched-rewrite term
    T·√G and keeps bucket dirs group-√G-sized.  The r11 probe showed
    why a FIXED count can't serve: at 15M groups a 514-key batch hit
    218/256 buckets (85% of the state rewritten); √15M→4096 bounds
    the same batch to ≤514/4096 dirs (~13%).  Power-of-two keeps the
    pmod cheap and the count stable under small G jitter.
    """
    import math

    if n_groups <= AUTO_BUCKETS_MIN * AUTO_BUCKETS_MIN:
        return AUTO_BUCKETS_MIN
    n = 1 << round(math.log2(math.sqrt(n_groups)))
    return max(AUTO_BUCKETS_MIN, min(AUTO_BUCKETS_MAX, n))


@dataclass(frozen=True)
class Measure:
    """One aggregate column of the view.

    ``kind`` ∈ {'sum', 'count', 'min', 'max', 'avg'}; ``expr`` is a
    SQL expression over base-table rows (``None`` means ``COUNT(*)``
    for kind='count').  'avg' maintains a sum+count pair internally
    and exposes the engine-neutral 6-dp quotient.
    """

    name: str
    kind: str
    expr: str | None = None

    def __post_init__(self) -> None:
        if self.kind not in ("sum", "count", "min", "max", "avg"):
            raise ValueError(f"unknown measure kind {self.kind!r}")
        if self.expr is None and self.kind != "count":
            raise ValueError(f"measure {self.name!r} ({self.kind}) needs expr")


def _state_cols(m: Measure) -> list[str]:
    if m.kind == "sum":
        return [f"__{m.name}_sum"]
    if m.kind == "count":
        return [f"__{m.name}_cnt"]
    if m.kind == "avg":
        return [f"__{m.name}_sum", f"__{m.name}_cnt"]
    return [f"__{m.name}_{m.kind}"]


def _agg_exprs(measures: list[Measure]) -> list[Column]:
    """Aggregates producing the INTERNAL state columns for one slice."""
    out: list[Column] = [F.count(F.lit(1)).alias(_NROWS)]
    for m in measures:
        if m.kind in ("sum", "avg"):
            out.append(
                F.sum(F.expr(m.expr).cast(DEC)).alias(f"__{m.name}_sum")
            )
        if m.kind in ("count", "avg"):
            src = F.expr(m.expr) if m.expr is not None else F.lit(1)
            out.append(F.count(src).alias(f"__{m.name}_cnt"))
        if m.kind in ("min", "max"):
            fn = F.min if m.kind == "min" else F.max
            out.append(fn(F.expr(m.expr)).alias(f"__{m.name}_{m.kind}"))
    return out


def _combine_col(old: Column, new: Column, how: str) -> Column:
    """Merge one state column across two disjoint row slices.

    Null discipline mirrors the direct aggregate: SUM/MIN/MAX over an
    all-null slice is NULL, so a NULL side is *absent*, not zero —
    both-null stays NULL, otherwise nulls drop out (least/greatest
    skip nulls; sums coalesce the missing side to 0 only when the
    other side is present).
    """
    if how in ("sum", "cnt"):
        # Spark's decimal-add promotion turns (38,10)+(38,10) into
        # (38,9); cast back so the STATE schema is one fixed type —
        # a bucketed layout mixes fresh-aggregate and combined files
        # in one table, and parquet refuses a scale mismatch on read.
        # The cast is exact for any aggregate below 1e28.
        typ = DEC if how == "sum" else "long"
        zero = F.lit(0).cast(typ)
        return (
            F.when(old.isNull() & new.isNull(), F.lit(None))
            .otherwise(F.coalesce(old, zero) + F.coalesce(new, zero))
            .cast(typ)
        )
    fn = F.least if how == "min" else F.greatest
    return fn(old, new)


def combine_states(
    old: DataFrame, delta: DataFrame, keys: list[str], measures: list[Measure]
) -> DataFrame:
    """Full-outer merge of two internal-state frames over the group keys.

    Both inputs aggregate DISJOINT row slices, so every state column
    merges with its monoid: sums/counts add, min/max take the extreme.
    The join shuffles state-sized data on the group keys — never the
    base rows.
    """
    o = old.alias("o")
    d = delta.alias("d")
    joined = o.join(d, keys, "full_outer")
    cols: list[Column] = [F.col(k) for k in keys]
    cols.append(
        _combine_col(F.col(f"o.{_NROWS}"), F.col(f"d.{_NROWS}"), "cnt").alias(
            _NROWS
        )
    )
    for m in measures:
        for sc in _state_cols(m):
            how = (
                "sum"
                if sc.endswith("_sum")
                else "cnt"
                if sc.endswith("_cnt")
                else m.kind
            )
            cols.append(
                _combine_col(F.col(f"o.{sc}"), F.col(f"d.{sc}"), how).alias(sc)
            )
    return joined.select(*cols)


def exposed_cols(keys: list[str], measures: list[Measure]) -> list[Column]:
    """The engine-neutral read surface derived from internal state.

    Decimal sums leave as ``CAST(ROUND(dec, 2) AS DOUBLE)``; averages
    as the string-routed 6-dp quotient (functions/numeric.py — the
    only representations whose bits match DuckDB's).
    """
    cols: list[Column] = [F.col(k) for k in keys]
    for m in measures:
        if m.kind == "sum":
            cols.append(
                F.round(F.col(f"__{m.name}_sum"), 2)
                .cast("double")
                .alias(m.name)
            )
        elif m.kind == "count":
            cols.append(F.col(f"__{m.name}_cnt").alias(m.name))
        elif m.kind == "avg":
            cols.append(
                str_round6(
                    F.col(f"__{m.name}_sum").cast("string").cast("double")
                    / F.col(f"__{m.name}_cnt")
                ).alias(m.name)
            )
        else:
            cols.append(F.col(f"__{m.name}_{m.kind}").alias(m.name))
    return cols


class MaterializedAggView:
    """A persisted GROUP-BY aggregate over ``base_schema.base_table``,
    maintained batch-by-batch.

    The view table lives at ``schema.table`` in the same warehouse;
    flat-layout writes are atomic swaps (partitioned layouts rewrite
    touched directories in place — see the module docstring for the
    consistency contract).  Callers choose the maintenance entry
    point that matches what happened to the base:

    * :meth:`full_refresh` — rebuild from the (current) base;
    * :meth:`apply_append` — the batch was pure INSERTs;
    * :meth:`apply_changes` — rows changed or vanished: pass the
      post-change base and a frame of touched group keys;
    * :meth:`sync_upsert` / :meth:`sync_delete` — convenience wrappers
      that derive the touched groups from the loader's batch.
    """

    def __init__(
        self,
        wh: Warehouse,
        schema: str,
        table: str,
        keys: list[str],
        measures: list[Measure],
        state_buckets: int | str | None = None,
        state_partition_key: str | None = None,
    ) -> None:
        """Two partitioned-state layouts for big views (either one
        makes a batch rewrite only its TOUCHED partition directories
        via dynamic partition overwrite, instead of the whole state):

        * ``state_buckets=N`` — Hive-partition by a hash bucket of the
          group keys.  Balanced by construction; wins when a batch
          touches FEWER GROUPS than buckets (dimension-update shaped
          batches).  A batch spraying >> N distinct groups touches
          every bucket and gains nothing — hashing destroys locality.
          ``state_buckets="auto"`` sizes N from the OBSERVED group
          count at bootstrap (√G, :func:`auto_state_buckets` — the
          auto_lsh_bits discipline) and persists the choice in a
          sidecar so reopening the view resolves the same layout;
          :meth:`rebucket` re-sizes after the view grows.
        * ``state_partition_key=k`` (one of ``keys``) — partition by
          that key's values.  The continuous-aggregate layout: when
          batches ALIGN with the key (time-grain views fed by daily
          arrivals), a batch touches exactly its own partitions, so
          per-batch state I/O is O(touched key values) no matter how
          many groups exist overall.

        Leave both None for rollup-sized states (a handful of groups),
        where one small file beats a directory tree.
        """
        if not keys:
            raise ValueError("matview needs at least one group key")
        names = [m.name for m in measures]
        if len(set(names)) != len(names):
            raise ValueError("duplicate measure names")
        if state_buckets and state_partition_key:
            raise ValueError("pick ONE of state_buckets / state_partition_key")
        if state_partition_key and state_partition_key not in keys:
            raise ValueError("state_partition_key must be a group key")
        if isinstance(state_buckets, str) and state_buckets != "auto":
            raise ValueError(
                f"state_buckets must be an int, 'auto', or None — "
                f"got {state_buckets!r}"
            )
        self.wh = wh
        self.schema = schema
        self.table = table
        self.keys = list(keys)
        self.measures = list(measures)
        self._auto_buckets = state_buckets == "auto"
        self.state_buckets = (
            None if self._auto_buckets else state_buckets
        )
        self._part = _BUCKET if state_buckets else state_partition_key

    # -- internals ---------------------------------------------------------
    def _aggregate(self, rows: DataFrame) -> DataFrame:
        return rows.groupBy(*self.keys).agg(*_agg_exprs(self.measures))

    def _bucketed(self) -> bool:
        return self._part == _BUCKET

    def _sidecar(self):
        """Auto-bucket sidecar: the resolved count must survive the
        view OBJECT (reopening an 'auto' view must hash into the SAME
        layout, or every maintenance splice misroutes groups).  The
        ``.__`` infix keeps it out of ``list_tables`` and clear of
        write_atomic's swap namespaces."""
        tp = self.wh.table_path(self.schema, self.table)
        return tp.parent / f"{self.table}.__buckets"

    def _buckets(self) -> int:
        """The resolved bucket count (fixed, or auto via sidecar)."""
        if self.state_buckets is not None:
            return self.state_buckets
        sc = self._sidecar()
        if sc.exists():
            self.state_buckets = int(sc.read_text().strip())
            return self.state_buckets
        raise RuntimeError(
            f"{self.schema}.{self.table}: state_buckets='auto' is "
            "unresolved — bootstrap the view (full_refresh / first "
            "batch) before partition-level maintenance"
        )

    def _bucket_expr(self) -> Column:
        return F.pmod(
            F.xxhash64(*[F.col(k) for k in self.keys]),
            F.lit(self._buckets()),
        ).cast("int")

    def _partify(self, df: DataFrame) -> DataFrame:
        """Ensure the partition column is present (hash mode derives
        it; key mode already carries it as a group key)."""
        if self._bucketed():
            return df.withColumn(_BUCKET, self._bucket_expr())
        return df

    def _unpartify(self, df: DataFrame) -> DataFrame:
        if self._bucketed():
            return df.drop(_BUCKET)
        return df

    def _write(self, state: DataFrame) -> None:
        # group-key cardinality is usually tiny next to the base; cap
        # output files so a 32-way shuffle doesn't write 32 shards of
        # a 15-row rollup.
        if not self._part:
            self.wh.write_atomic(state, self.schema, self.table, coalesce=4)
            return
        if self._auto_buckets and self.state_buckets is None:
            # bootstrap of an auto-bucketed view: size N from the
            # observed group count (state feeds the count AND the
            # write — cache it), persist the choice
            state = cache_tracked(state)
            try:
                n = auto_state_buckets(state.count())
                self.wh.create_schema(self.schema)
                self._sidecar().write_text(str(n))
                self.state_buckets = n
                self.wh.write_atomic(
                    self._partify(state),
                    self.schema,
                    self.table,
                    coalesce=n,
                    partition_by=[self._part],
                )
            finally:
                state.unpersist()
            return
        self.wh.write_atomic(
            self._partify(state),
            self.schema,
            self.table,
            coalesce=self._buckets() if self._bucketed() else 32,
            partition_by=[self._part],
        )

    def rebucket(self) -> int:
        """Re-size an auto-bucketed view after it grew: re-derive √G
        from the CURRENT group count and rewrite the state once under
        the new layout (atomic swap).  Cheap relative to maintenance
        history — one state-sized rewrite — and idempotent when the
        count lands on the same power of two.  Returns the new count.
        """
        if not self._auto_buckets:
            raise ValueError("rebucket() applies to state_buckets='auto'")
        state = cache_tracked(self._unpartify(self.state()))
        try:
            n = auto_state_buckets(state.count())
            self._sidecar().write_text(str(n))
            self.state_buckets = n
            self.wh.write_atomic(
                self._partify(state),
                self.schema,
                self.table,
                coalesce=n,
                partition_by=[self._part],
            )
        finally:
            state.unpersist()
        return n

    def maybe_rebucket(self, min_step: int = 2) -> int | None:
        """Re-size iff the view has outgrown (or outshrunk) its layout
        by ≥ ``min_step`` power-of-two steps — the maintenance-loop
        hook that keeps the auto policy honest over a view's lifetime
        without rewriting the state on every drift wobble.

        One group-count aggregate decides; the rewrite only happens at
        a ≥``min_step``-step gap (default 2 = a ~16× group-count
        change under the √G law), so steady-state syncs pay a count,
        never a rewrite.  Returns the new bucket count when a rewrite
        ran, else None.
        """
        if not self._auto_buckets:
            raise ValueError("maybe_rebucket() applies to state_buckets='auto'")
        current = self._buckets()
        ideal = auto_state_buckets(self.state().count())
        gap = abs(
            ideal.bit_length() - current.bit_length()
        )
        if gap < min_step:
            return None
        return self.rebucket()

    def _overwrite_buckets(self, content: DataFrame) -> None:
        """Replace exactly the bucket directories present in
        ``content``, byte-untouched elsewhere."""
        self.wh.overwrite_partitions(
            content, self.schema, self.table, [self._part]
        )

    def _touched_bucket_slice(
        self, sess, touched_keys: DataFrame
    ) -> tuple[DataFrame | None, list[int]]:
        """(old rows of the touched buckets, touched bucket ids).
        The bucket list prunes the state read to its directories."""
        tk = self._partify(touched_keys)
        buckets = [r[0] for r in tk.select(self._part).distinct().collect()]
        old = self.wh.read_partitions(
            self.schema, self.table, self._part, buckets, session=sess
        )
        return old, buckets

    def _drop_emptied_buckets(
        self, content_buckets: set[int], touched_buckets: list[int]
    ) -> None:
        """Dynamic partition overwrite cannot write an EMPTY partition:
        a touched bucket whose every group vanished keeps its stale
        directory after the write — drop those dirs explicitly."""
        emptied = [b for b in touched_buckets if b not in content_buckets]
        for d in self.wh.partition_dirs(
            self.schema, self.table, self._part, emptied
        ):
            shutil.rmtree(d, ignore_errors=True)

    def exists(self) -> bool:
        return self.wh.table_exists(self.schema, self.table)

    def state(self) -> DataFrame:
        return self.wh.read(self.schema, self.table)

    # -- maintenance -------------------------------------------------------
    def full_refresh(self, base: DataFrame) -> None:
        """Rebuild the whole view — the bootstrap (and the escape hatch
        when a change set is unknowable, e.g. an out-of-band rewrite)."""
        self._write(self._aggregate(base))

    def apply_append(self, batch: DataFrame) -> None:
        """Absorb an INSERT-only batch.

        ``state' = combine(state, aggregate(batch))`` — one aggregate
        over the batch plus a state-sized key join.  The base table is
        not referenced at all (tests pin that the plan reads only the
        batch and the view), so at 100 TB the per-batch cost is the
        batch scan, full stop.  With ``state_buckets`` the join and
        the rewrite shrink further to the delta's TOUCHED buckets
        (probe-measured: the unbucketed highcard append's wall is the
        full-state rewrite, not the combine).
        """
        delta = self._aggregate(batch)
        if not self.exists():
            self._write(delta)
            return
        if not self._part:
            self._write(
                combine_states(self.state(), delta, self.keys, self.measures)
            )
            return
        # partitioned: delta feeds the partition probe AND the combine
        delta = cache_tracked(delta)
        try:
            old, _ = self._touched_bucket_slice(
                delta.sparkSession, delta.select(*self.keys)
            )
            if old is None:
                content = delta
            else:
                # groups in the touched partitions but NOT in the
                # delta pass through combine unchanged (null delta
                # side), so the overwrite rewrites whole partition
                # dirs consistently
                content = combine_states(
                    self._unpartify(old), delta, self.keys, self.measures
                )
            self._overwrite_buckets(self._partify(content))
        finally:
            delta.unpersist()

    def apply_changes(self, base_after: DataFrame, touched_keys: DataFrame) -> None:
        """Recompute exactly the groups in ``touched_keys`` from the
        post-change base and splice them into the state.

        Groups whose rows all vanished drop out naturally (they appear
        in ``touched_keys`` but not in the recomputed aggregate, and
        the untouched remainder is carried by anti-join).

        The touched set feeds TWO subtrees of the one write action
        (the recompute semi-join and the keep anti-join), so it is
        cache_tracked and filled eagerly — the fill's count also
        decides whether it is broadcastable (the loader's threshold)
        or must shuffle-join a pathological batch that touched more
        groups than a broadcast can carry.  With ``state_buckets`` the
        keep side shrinks from the whole state to the touched buckets
        and the rewrite to those directories — emptied groups drop
        there too (they are in the touched set but not in the
        recomputed aggregate, so the bucket's new content omits them).
        """
        touched = cache_tracked(touched_keys.select(*self.keys).distinct())
        try:
            small = touched.count() <= BROADCAST_BATCH_MAX_ROWS
            hinted = F.broadcast(touched) if small else touched
            recomputed = self._aggregate(
                base_after.join(hinted, self.keys, "leftsemi")
            )
            if not self.exists():
                # no prior state to splice into: writing only the
                # touched groups would silently drop every OTHER group
                # of base_after forever (review-caught) — bootstrap is
                # a full refresh
                self._write(self._aggregate(base_after))
                return
            if not self._part:
                kept = self.state().join(hinted, self.keys, "left_anti")
                self._write(kept.unionByName(recomputed))
                return
            old, tb = self._touched_bucket_slice(
                base_after.sparkSession, touched
            )
            recomputed = self._partify(recomputed)
            if old is None:
                content = recomputed
            else:
                content = old.join(
                    hinted, self.keys, "left_anti"
                ).unionByName(recomputed)
            # content feeds the partition census AND the write
            content = cache_tracked(content)
            try:
                have = {
                    r[0]
                    for r in content.select(self._part).distinct().collect()
                }
                if have:
                    self._overwrite_buckets(content)
                self._drop_emptied_buckets(have, tb)
            finally:
                content.unpersist()
        finally:
            touched.unpersist()

    def sync_upsert(
        self,
        base_before: DataFrame,
        base_after: DataFrame,
        batch: DataFrame,
        unique_keys: list[str],
    ) -> None:
        """Maintain across a last-write-wins merge (Loader.load_incremental).

        Touched groups = groups of the incoming rows ∪ groups of the
        rows they replaced (a replaced row may have MIGRATED groups —
        its old group loses the row, its new group gains it; both need
        recompute).
        """
        replaced = base_before.join(
            batch.select(*unique_keys).distinct(), unique_keys, "leftsemi"
        )
        touched = (
            batch.select(*self.keys)
            .unionByName(replaced.select(*self.keys))
            .distinct()
        )
        self.apply_changes(base_after, touched)

    def sync_delete(
        self, base_after: DataFrame, deleted_rows: DataFrame
    ) -> None:
        """Maintain across a DELETE: touched groups are the deleted
        rows' groups."""
        self.apply_changes(base_after, deleted_rows.select(*self.keys))

    # -- read surface ------------------------------------------------------
    def read(self) -> DataFrame:
        """The exposed rollup (engine-neutral column types — no decimals)."""
        return self.state().select(*exposed_cols(self.keys, self.measures))


def sync_views_through_merge(
    loader,
    views: list["MaterializedAggView"],
    batch: DataFrame,
    unique_keys: list[str],
    order_col: str | None = None,
    partition_col: str | None = None,
) -> None:
    """Run a ``Loader.load_incremental`` merge AND keep the given views
    consistent with it — the production wiring.

    The touched-group derivation needs the PRE-merge base (a replaced
    row's OLD group must be recomputed too), but the merge replaces the
    base's files, so the replaced rows are pinned with an eager
    ``localCheckpoint`` BEFORE the merge runs — the frames survive the
    swap because their lineage is cut (checkpoint blocks, not the
    about-to-vanish files; df.persist would lazily re-read the dead
    path).  Touched sets are group-key-sized, so the checkpoints are
    tiny.  First sync (no base yet) degrades to batch-groups-only,
    which is exact: nothing could have been replaced.

    The base's layout on disk (``Warehouse.partition_cols``; for a base
    this merge creates, ``partition_col``, as in the loader) selects
    the reads.  Over a Hive-partitioned base every base read is pruned
    to partition directories — the batch's before the merge, the
    touched groups' after it — so a sync costs O(touched partitions),
    never a base scan.  That needs the outermost partition column to
    be a group key of EVERY view (a touched group's rows then all live
    in touched directories) and the loader's merge contract (merge
    keys include/determine the partition column).
    """
    wh, sess = loader.wh, batch.sparkSession
    cols = wh.partition_cols(loader.schema, loader.table)
    had_base = cols is not None
    if not had_base:
        cols = [partition_col] if partition_col else []
    part = cols[0] if cols else None
    for v in views:
        if part is not None and part not in v.keys:
            raise ValueError(
                f"view {v.schema}.{v.table}: partition column {part!r} "
                f"of {loader.schema}.{loader.table} must be one of its "
                f"group keys {v.keys} for pruned maintenance"
            )

    def read_base(rows: DataFrame) -> DataFrame | None:
        """The base, pruned to the partitions of ``rows`` when it is
        partitioned; None when none of them exists."""
        if part is None:
            return wh.read_with(sess, loader.schema, loader.table)
        vals = [r[0] for r in rows.select(part).distinct().collect()]
        return wh.read_partitions(
            loader.schema, loader.table, part, vals, session=sess
        )

    replaced = None
    before = read_base(batch) if had_base else None
    if before is not None:
        # ONE pre-merge base pass shared by every view: the matched
        # rows are batch-sized, so the checkpoint is tiny and each
        # view's touched projection comes off it, not off the base
        replaced = before.join(
            batch.select(*unique_keys).distinct(), unique_keys, "leftsemi"
        ).localCheckpoint()
    touched: list[DataFrame] = []
    for v in views:
        t = batch.select(*v.keys)
        if replaced is not None:
            t = t.unionByName(replaced.select(*v.keys))
        touched.append(t.distinct().localCheckpoint())
    loader.load_incremental(
        batch, unique_keys, order_col=order_col, partition_col=partition_col
    )
    base_after = wh.read_with(sess, loader.schema, loader.table)
    sliceable = base_after
    if part is not None and touched:
        # one pruned read covering every view's touched partitions
        vals = touched[0].select(part)
        for t in touched[1:]:
            vals = vals.unionByName(t.select(part))
        sliceable = read_base(vals)
        if sliceable is None:
            # every touched partition vanished: the recompute finds no
            # rows and the splice just drops the touched groups (LIMIT
            # 0 keeps the base schema and scans nothing)
            sliceable = base_after.limit(0)
    _apply_views_one_pass(sliceable, base_after, views, touched)


def _apply_views_one_pass(
    sliceable: DataFrame,
    full_base: DataFrame,
    views: list["MaterializedAggView"],
    touched: list[DataFrame],
) -> None:
    """Recompute every view's touched groups with ONE shared pass over
    the post-change base.

    Per-view ``apply_changes(base, t)`` scans the base once each — N
    views = N base scans per sync (r11 verdict #3).  Instead the rows
    belonging to ANY view's touched groups are extracted in a single
    pass (one left join per view against its broadcast checkpointed
    touched set, OR over the match markers — the touched sets are
    group-key-sized, so all N joins ride one base scan) and cached;
    each view's recompute semi-join then reads the cached slice, which
    is a superset of exactly the rows it needs.  Views that do not
    exist yet bootstrap from ``full_base`` (a pruned/sliced frame
    would silently drop their other groups forever).
    """
    live: list[tuple[MaterializedAggView, DataFrame]] = []
    for v, t in zip(views, touched):
        if v.exists():
            live.append((v, t))
        else:
            v.apply_changes(full_base, t)
    if not live:
        return
    marked = sliceable
    marks: list[str] = []
    for i, (v, t) in enumerate(live):
        m = f"__mv_touch_{i}"
        marked = marked.join(
            F.broadcast(t.withColumn(m, F.lit(True))), v.keys, "left"
        )
        marks.append(m)
    # markers are True or NULL (left-join miss): first non-null wins
    any_touched = F.coalesce(*[F.col(m) for m in marks], F.lit(False))
    shared = cache_tracked(marked.filter(any_touched).drop(*marks))
    try:
        shared.count()  # eager fill: N downstream actions share ONE scan
        for v, t in live:
            v.apply_changes(shared, t)
    finally:
        shared.unpersist()


class StreamingMatView:
    """Exactly-once streaming maintenance of an aggregate view over an
    append-only stream (the ``foreachBatch`` integration point).

    Absorbing a sum/count batch is NOT idempotent — a crash-replayed
    trigger would double-count (unlike the HLL register fold, whose
    MAX merge replays for free).  The replay guard and the state flip
    are therefore ONE atomic step: each absorbed batch writes a NEW
    state generation ``{table}__g{k}`` and then flips the 1-row
    pointer ``{table}__ptr`` carrying BOTH the generation and the
    batch_id (``Warehouse.flip_pointer``).  A crash anywhere leaves
    the pointer naming a complete pre-crash state whose
    batch_id forces the replayed trigger to re-absorb — there is no
    window where the state counted a batch the pointer doesn't know
    about (the model_registry pointer-flip pattern, with the ledger
    folded INTO the pointer).

    Per-trigger cost: one aggregate over the micro-batch plus a
    state-sized key join — the generation write is the same bytes the
    non-streaming view rewrites per batch.  All frames in a trigger
    build from the micro-batch session (the CLAUDE.md foreachBatch
    rule); serving reads are path-based via the pointer, so they see
    complete old or complete new state across sessions, never a mix.

    Boundary: generations rewrite the WHOLE state per trigger, so this
    class is for rollup-sized streaming views (the common case — a
    dashboard aggregate).  A group-cardinality-huge streaming view
    uses :class:`DeltaStreamingMatView` instead — its delta log keeps
    the per-trigger write batch-sized while preserving the same
    atomic-pointer exactly-once argument, at the price of a
    compaction-bounded read-side fold.
    """

    def __init__(
        self,
        wh: Warehouse,
        schema: str,
        table: str,
        keys: list[str],
        measures: list[Measure],
        keep_back: int = 1,
    ) -> None:
        self.wh = wh
        self.schema = schema
        self.table = table
        self.keys = list(keys)
        self.measures = list(measures)
        self.keep_back = keep_back

    def _ptr(self) -> str:
        return f"{self.table}__ptr"

    def _gen(self, k: int) -> str:
        return f"{self.table}__g{k}"

    def _pointer(self, sess) -> tuple[int, int] | None:
        row = self.wh.read_pointer(sess, self.schema, self._ptr())
        return None if row is None else (int(row["gen"]), int(row["batch_id"]))

    def absorb(self, batch_df: DataFrame, batch_id: int) -> bool:
        """foreachBatch body.  Returns False when ``batch_id`` was
        already absorbed (a replayed trigger) — the skip that makes
        sums exactly-once."""
        sess = batch_df.sparkSession
        ptr = self._pointer(sess)
        if ptr is not None and batch_id <= ptr[1]:
            return False
        delta = batch_df.groupBy(*self.keys).agg(*_agg_exprs(self.measures))
        if ptr is None:
            gen, state = 1, delta
        else:
            gen = ptr[0] + 1
            old = self.wh.read_with(sess, self.schema, self._gen(ptr[0]))
            state = combine_states(old, delta, self.keys, self.measures)
        self.wh.write_atomic(state, self.schema, self._gen(gen), coalesce=4)
        self.wh.flip_pointer(
            sess, self.schema, self._ptr(), "gen long, batch_id long",
            gen, batch_id,
        )
        # vacuum generations beyond the in-flight-reader grace window
        self.wh.drop_generations(
            self.schema, f"{self.table}__g", gen - self.keep_back
        )
        return True

    def read(self, sess) -> DataFrame:
        """The exposed rollup of the CURRENT generation (pointer first,
        then exactly that generation — never a torn state)."""
        ptr = self._pointer(sess)
        if ptr is None:
            raise FileNotFoundError(
                f"{self.schema}.{self.table}: no absorbed batches yet"
            )
        state = self.wh.read_with(sess, self.schema, self._gen(ptr[0]))
        return state.select(*exposed_cols(self.keys, self.measures))


class DeltaStreamingMatView:
    """Exactly-once streaming maintenance whose per-trigger cost is
    proportional to the BATCH, not the state — the
    group-cardinality-huge case :class:`StreamingMatView` documents as
    its boundary (that class rewrites the whole state per trigger,
    which is right for rollup-sized views and absurd for millions of
    groups).

    Design: a generational DELTA LOG.  Each absorbed batch writes one
    batch-group-sized delta table ``{t}__d{k}`` (the batch's internal
    aggregate state) and then flips the 1-row pointer
    ``{t}__dptr(base_gen, n_absorbed, batch_id, delta_floor)`` — the
    same single-atomic-commit-point argument as StreamingMatView: a
    crash between the delta write and the flip leaves an orphan
    ``__d{k}`` the replayed trigger overwrites (same k, same content),
    so no batch can ever be double-counted or lost.  Reads fold
    ``base ⊕ d_{floor+1} ⊕ … ⊕ d_k`` through :func:`combine_states`
    (all state-sized key joins); :meth:`compact` bounds the fold depth
    by merging pending deltas into a new base generation and flipping
    the pointer ``(base_gen+1, k, batch_id, k)`` — again atomic, so a
    crash mid-compaction is invisible.  Vacuum keeps the previous base
    AND its still-referenced deltas for in-flight readers
    (``keep_back`` flips of grace), mirroring the model-registry
    contract.

    100-TB shape: per trigger one map-side-combined aggregate over the
    micro-batch + one tiny write; read cost ∝ pending deltas (a
    compaction-cadence dial, same trade as any LSM); compaction is one
    state-sized fold, amortized.  All frames in a trigger build from
    the micro-batch session (the CLAUDE.md foreachBatch rule).
    """

    def __init__(
        self,
        wh: Warehouse,
        schema: str,
        table: str,
        keys: list[str],
        measures: list[Measure],
        keep_back: int = 1,
    ) -> None:
        self.wh = wh
        self.schema = schema
        self.table = table
        self.keys = list(keys)
        self.measures = list(measures)
        self.keep_back = keep_back

    # -- naming / pointer --------------------------------------------------
    def _ptr_t(self) -> str:
        return f"{self.table}__dptr"

    def _base_t(self, j: int) -> str:
        return f"{self.table}__b{j}"

    def _delta_t(self, k: int) -> str:
        return f"{self.table}__d{k}"

    def _pointer(self, sess) -> dict | None:
        row = self.wh.read_pointer(sess, self.schema, self._ptr_t())
        return None if row is None else {k: int(v) for k, v in row.asDict().items()}

    def _flip(self, sess, base_gen, n_absorbed, batch_id, delta_floor):
        self.wh.flip_pointer(
            sess, self.schema, self._ptr_t(),
            "base_gen long, n_absorbed long, batch_id long, delta_floor long",
            base_gen, n_absorbed, batch_id, delta_floor,
        )

    # -- streaming ---------------------------------------------------------
    def absorb(self, batch_df: DataFrame, batch_id: int) -> bool:
        """foreachBatch body; returns False for a replayed trigger.
        Writes ONE batch-group-sized delta — the base tables are never
        touched (pytest pins their files byte-identical)."""
        sess = batch_df.sparkSession
        ptr = self._pointer(sess)
        if ptr is not None and batch_id <= ptr["batch_id"]:
            return False
        delta = batch_df.groupBy(*self.keys).agg(*_agg_exprs(self.measures))
        k = (ptr["n_absorbed"] if ptr else 0) + 1
        self.wh.write_atomic(delta, self.schema, self._delta_t(k), coalesce=4)
        self._flip(
            sess,
            ptr["base_gen"] if ptr else 0,
            k,
            batch_id,
            ptr["delta_floor"] if ptr else 0,
        )
        return True

    # -- reads -------------------------------------------------------------
    def _state(self, sess) -> DataFrame:
        ptr = self._pointer(sess)
        if ptr is None:
            raise FileNotFoundError(
                f"{self.schema}.{self.table}: no absorbed batches yet"
            )
        frames: list[DataFrame] = []
        if ptr["base_gen"] > 0:
            frames.append(
                self.wh.read_with(
                    sess, self.schema, self._base_t(ptr["base_gen"])
                )
            )
        for i in range(ptr["delta_floor"] + 1, ptr["n_absorbed"] + 1):
            frames.append(
                self.wh.read_with(sess, self.schema, self._delta_t(i))
            )
        state = frames[0]
        for f in frames[1:]:
            state = combine_states(state, f, self.keys, self.measures)
        return state

    def pending_deltas(self, sess) -> int:
        ptr = self._pointer(sess)
        if ptr is None:
            return 0
        return ptr["n_absorbed"] - ptr["delta_floor"]

    def read(self, sess) -> DataFrame:
        """The exposed rollup: pointer-resolved base ⊕ pending deltas
        — complete as of the last flipped pointer, never torn."""
        return self._state(sess).select(
            *exposed_cols(self.keys, self.measures)
        )

    # -- maintenance -------------------------------------------------------
    def compact(self, sess) -> int:
        """Fold every pending delta into a new base generation and
        flip the pointer; returns the number of deltas folded (0 when
        already compact).  Crash-safe: until the flip, readers and
        replays see the old pointer; the half-written new base is an
        orphan the next compaction overwrites."""
        ptr = self._pointer(sess)
        if ptr is None or ptr["n_absorbed"] == ptr["delta_floor"]:
            return 0
        folded = ptr["n_absorbed"] - ptr["delta_floor"]
        old_floor = ptr["delta_floor"]
        new_gen = ptr["base_gen"] + 1
        self.wh.write_atomic(
            self._state(sess), self.schema, self._base_t(new_gen), coalesce=8
        )
        self._flip(
            sess, new_gen, ptr["n_absorbed"], ptr["batch_id"],
            ptr["n_absorbed"],
        )
        # vacuum beyond the in-flight-reader grace window: a reader
        # pinned at the PREVIOUS pointer still needs the previous base
        # and the deltas above ITS floor — deltas ≤ old_floor were
        # already folded into the previous base, and bases older than
        # keep_back flips have no pinned readers left
        self.wh.drop_generations(
            self.schema, f"{self.table}__b", new_gen - self.keep_back
        )
        self.wh.drop_generations(self.schema, f"{self.table}__d", old_floor + 1)
        return folded
