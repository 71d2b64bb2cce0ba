"""Warehouse catalog: two-level namespace over a parquet directory tree.

Reference parity (SURVEY.md §1.2, §2.2): the reference keeps tables in
PostgreSQL schemas ``bitcoin`` / ``etl`` and auto-creates them
(``CREATE SCHEMA IF NOT EXISTS``, reference ``pg_loader.py:42``); the
Spark-native equivalent is a directory layout ``{root}/{schema}/{table}``
holding parquet, with the schema carried by the parquet footer (so the
reference's dynamic ``CREATE TABLE`` from DataFrame dtypes — reference
``pg_loader.py:70-105`` — needs no separate DDL step here).

Atomicity: every table write goes to a fresh staging sibling and is
published by :func:`swap_in`, which renames the live directory aside as
the table's newest snapshot and the new one into place.  The snapshot is
the recovery point: opening a :class:`Warehouse` renames it back where a
kill between the two renames left no live table (:func:`restore_missing`),
so a reader sees the old table or the new one — the reference's
TRUNCATE→INSERT in one Postgres transaction (``pg_loader.py:126-163``).
Generations commit through a 1-row pointer flipped last
(:meth:`Warehouse.flip_pointer`).  On HDFS and POSIX filesystems a rename
is atomic; on object stores the swap degrades to copy-then-delete and a
manifest-based table format (Delta/Iceberg) is the production answer.

Physical layout is decided here and nowhere else: the Hive
``col=value`` partition directories (:meth:`Warehouse.partition_dirs`,
:meth:`Warehouse.read_partitions`), the clustered partition rewrite
(:meth:`Warehouse.overwrite_partitions`) and the directory swap.  The
loader and the materialized views call these; they hold merge and
view semantics only.
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import os
import shutil
import time
import uuid
from pathlib import Path
from urllib.parse import unquote

from pyspark.sql import DataFrame, DataFrameWriter, Row, SparkSession

from bitcoin_datawarehouse_spark.functions.localframe import local_rows_df

#: Hive's sentinel directory for NULL partition values
_HIVE_NULL_PART = "__HIVE_DEFAULT_PARTITION__"


def dynamic_overwrite(writer: DataFrameWriter) -> DataFrameWriter:
    """``writer`` in overwrite mode that replaces only the partition
    directories its rows land in (dynamic partition overwrite).

    A per-write option, never the session conf: concurrent writes share
    one session (a pipeline's lanes), and a save/set/restore of the conf
    would race between them.  Shared by
    :meth:`Warehouse.overwrite_partitions` and z-table compaction."""
    return writer.mode("overwrite").option("partitionOverwriteMode", "dynamic")


def _snapshots(final: Path) -> list[Path]:
    return sorted(final.parent.glob(f"{final.name}.__v_*"))


def _drop_unfinished(final: Path) -> None:
    for orphan in final.parent.glob(f"{final.name}.__tmp_*"):
        shutil.rmtree(orphan)


def staging_dir(final: Path) -> Path:
    """A fresh sibling to write ``final``'s replacement into, after
    deleting the ones killed writes left: one writer per table at a
    time (a pipeline runs one lane per target under its lock)."""
    _drop_unfinished(final)
    return final.with_name(f"{final.name}.__tmp_{uuid.uuid4().hex[:8]}")


def drop_snapshots(final: Path, keep: int = 0) -> int:
    """Delete all but ``final``'s newest ``keep`` snapshots; returns
    how many it deleted."""
    snaps = _snapshots(final)
    drop = snaps[: max(0, len(snaps) - keep)]
    for p in drop:
        shutil.rmtree(p)
    return len(drop)


def swap_in(tmp: Path, final: Path, keep: int | None = 0) -> None:
    """Publish the finished directory ``tmp`` as ``final``: rename the
    live directory aside as ``final``'s newest snapshot, then ``tmp``
    into place (undoing the first rename if the second raises), then
    delete snapshots beyond the newest ``keep`` (``None`` keeps all).
    A kill between the renames leaves the old table as the newest
    snapshot for :func:`restore_missing`."""
    snap = None
    if final.exists():
        stamps = [int(p.name.rsplit("_", 1)[1]) for p in _snapshots(final)]
        ms = max([int(time.time() * 1000), *(s + 1 for s in stamps)])
        snap = final.with_name(f"{final.name}.__v_{ms:015d}")
        final.rename(snap)
    try:
        tmp.rename(final)
    except OSError:
        if snap is not None:
            snap.rename(final)
        raise
    if keep is not None:
        drop_snapshots(final, keep)


def restore_missing(final: Path) -> None:
    """The recovery step: rename ``final``'s newest snapshot back when
    it has no live directory."""
    snaps = [] if final.exists() else _snapshots(final)
    if snaps:
        snaps[-1].rename(final)


def hadoop_fs(spark: SparkSession, loc: str):
    """(fs, path) through the JVM Hadoop FS API — works for ANY
    warehouse scheme (file:, hdfs:, s3a:) — or None when the session
    has no JVM gateway (Spark Connect).  The ONE owner of scheme-
    aware filesystem access for catalog-backed locations; callers
    must pair a None with either a file:-scheme local fallback or a
    loud refusal (``_require_local_scheme``), never a silent no-op."""
    try:
        hpath = spark._jvm.org.apache.hadoop.fs.Path(loc)
        return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath
    except AttributeError:
        return None


def _require_local_scheme(wdir: str, what: str) -> None:
    """Raise when a no-gateway session would silently skip ``what``
    on a non-local warehouse scheme."""
    scheme = wdir.split("://", 1)[0] if "://" in wdir else "file"
    if scheme not in ("file", ""):
        raise NotImplementedError(
            f"{what} needs the Hadoop FS API for warehouse scheme "
            f"'{scheme}' and this session has no JVM gateway"
        )


def _bucket_clustered(
    df: DataFrame, bucket_cols: list[str], n_buckets: int
) -> DataFrame:
    """Hash-cluster ``df`` on the bucket columns into a MULTIPLE of
    ``n_buckets`` partitions before a bucketed write (r12).

    A bucketed ``saveAsTable`` never shuffles: every write task opens
    one file per bucket value it holds, so an unclustered input
    produces up to tasks×buckets files (the same failure mode as an
    unclustered partitionBy write, see
    :meth:`Warehouse.overwrite_partitions`).  Repartitioning on
    the bucket columns into P = k·n_buckets partitions aligns tasks
    with buckets exactly — ``pmod(h, n_buckets) = pmod(pmod(h,
    k·n_buckets), n_buckets)`` for Spark's Murmur3 column hash, so
    each task holds rows of precisely ONE bucket and writes k files
    per bucket total (k = 1 when the cluster's parallelism fits
    inside n_buckets).
    Guide §6: output files in the fewer-and-larger regime; probed-
    bucket searches open k files instead of ~tasks per bucket."""
    par = df.sparkSession.sparkContext.defaultParallelism
    mult = max(1, -(-par // n_buckets))  # ceil division
    return df.repartition(n_buckets * mult, *bucket_cols)


def lakehouse_pair(
    spark: SparkSession,
    lake_root: str,
    warehouse_root: str | None = None,
    keep_versions: int = 0,
) -> tuple["Warehouse", "Warehouse"]:
    """The reference's lake/warehouse dual-engine split
    (``data_integration/utils/database.py:35-45`` ``pg_data_lake`` vs
    ``:64-74`` ``pg_data_warehouse``): raw ingests land in the lake,
    curated tables in the warehouse.

    In the reference both "engines" resolve to the SAME host, port and
    database (only the credential env vars differ), so the split is a
    logical namespace, not a physical one.  Mirrored here as two
    directory roots — pass the same path for both (the default) to
    reproduce the reference's actual one-host deployment, or two paths
    (e.g. different mounts/storage tiers) when the split should be
    physical.  Returns ``(lake, warehouse)``.
    """
    return (
        Warehouse(spark, lake_root, keep_versions=keep_versions),
        Warehouse(
            spark, warehouse_root or lake_root, keep_versions=keep_versions
        ),
    )


def scratch_root(prefix: str, sf_dir: str) -> str:
    """Deterministic scratch-warehouse root for gate queries that
    persist an index/model as part of their plan, keyed
    per-(user, process, fixture digest) and REUSED (overwritten)
    across invocations — the single owner of the rules four call
    sites used to hand-roll (review-caught):

    * a per-call mkdtemp would leak one artifact dir per run and
      accrete a corpus-sized table per distinct catalog name;
    * the returned frames stay LAZY (the driver collects after the
      gate returns), so the tables must survive the call — bounded
      residue, reclaimed by the next same-keyed call's overwrite;
    * a world-predictable shared /tmp path would let two concurrent
      runs (bench + check_oracle, or two users on a shared host)
      clobber each other's tables mid-collect, and a pre-created dir
      by another user is the classic /tmp squatting hazard — hence
      user + pid + fixture digest in the key."""
    import getpass
    import tempfile

    return os.path.join(
        tempfile.gettempdir(),
        "{}_{}_{}_{}".format(
            prefix,
            getpass.getuser(),
            os.getpid(),
            hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8],
        ),
    )


class Warehouse:
    """Directory-backed catalog with ``schema.table`` addressing.

    Every atomic replace keeps the previous table directory as a
    snapshot ``{table}.__v_{millis}`` until the new one is live, then
    keeps the newest ``keep_versions`` (:func:`swap_in`).  Retained
    snapshots give the incremental pipeline a bad-batch recovery path —
    ``rollback`` swaps the latest back in; ``vacuum`` reclaims space.
    Opening a handle restores the newest snapshot of any table whose
    live directory a killed write left missing; reads have no side
    effects.
    """

    def __init__(
        self, spark: SparkSession, root: str, keep_versions: int = 0
    ) -> None:
        self.spark = spark
        self.root = Path(root)
        self.keep_versions = keep_versions
        self.root.mkdir(parents=True, exist_ok=True)
        for schema in filter(Path.is_dir, self.root.iterdir()):
            names = {p.name for p in schema.iterdir()}
            for t in {n.rpartition(".__v_")[0] for n in names if ".__v_" in n} - names:
                restore_missing(schema / t)

    # -- namespace ---------------------------------------------------------
    def create_schema(self, schema: str) -> None:
        """CREATE SCHEMA IF NOT EXISTS (reference pg_loader.py:39-47)."""
        (self.root / schema).mkdir(parents=True, exist_ok=True)

    def table_path(self, schema: str, table: str) -> Path:
        return self.root / schema / table

    def table_exists(self, schema: str, table: str) -> bool:
        """Existence probe (reference pg_loader.py:107-124)."""
        p = self.table_path(schema, table)
        return p.exists() and any(p.glob("*.parquet"))

    def table_exists_partitioned(self, schema: str, table: str) -> bool:
        """Existence probe for Hive-partitioned layouts: data files live
        at least one ``col=value`` directory level down (``*/**`` also
        matches multi-level ``day=*/hour=*`` layouts, which compact()
        relies on to avoid silently flattening them)."""
        p = self.table_path(schema, table)
        return p.exists() and any(p.glob("*/**/*.parquet"))

    def file_token(self, schema: str, table: str) -> str | None:
        """Digest of the names of ``schema.table``'s data files, None
        when it has none.  Every write names its files afresh (Spark puts
        the write job's uuid in each name), so another write, an append,
        a delete or a rollback changes the token, while a byte copy of
        the warehouse keeps it: names, not inodes."""
        root = self.table_path(schema, table)
        names = sorted(str(p.relative_to(root)) for p in root.rglob("*.parquet"))
        if not names:
            return None
        return hashlib.md5("\n".join(names).encode()).hexdigest()

    def list_tables(self, schema: str) -> list[str]:
        p = self.root / schema
        if not p.exists():
            return []
        # staging dirs, snapshots and sidecars all carry a ``.__`` infix
        return sorted(
            d.name
            for d in p.iterdir()
            if d.is_dir() and ".__" not in d.name
        )

    def drop_table(self, schema: str, table: str) -> None:
        """Delete ``schema.table`` with its snapshots and unfinished
        writes (a snapshot left behind would come back on next open)."""
        p = self.table_path(schema, table)
        drop_snapshots(p)
        _drop_unfinished(p)
        if p.exists():
            shutil.rmtree(p)

    # -- IO ----------------------------------------------------------------
    def read(
        self,
        schema: str,
        table: str,
        ranges: dict[str, tuple] | None = None,
        use_manifest: bool = False,
    ) -> DataFrame:
        """Read ``schema.table``; with ``ranges`` (``col: (lo, hi)``)
        the exact range predicate applies either as a plain filter or
        — with ``use_manifest=True`` — through the table's persisted
        file-skipping manifest sidecar, so only files whose min/max
        stats intersect every range are OPENED (identical rows, fewer
        files; the functions-level ``manifest_pruned_read`` wired into
        the catalog read path, r8 VERDICT item 7)."""
        if ranges is not None and use_manifest:
            return self.read_pruned(schema, table, ranges)[0]
        from pyspark.sql import functions as F

        df = self.read_with(self.spark, schema, table)
        for c, (lo, hi) in (ranges or {}).items():
            df = df.filter((F.col(c) >= F.lit(lo)) & (F.col(c) <= F.lit(hi)))
        return df

    def read_with(
        self, session: SparkSession, schema: str, table: str
    ) -> DataFrame:
        """Path-based read built from an EXPLICIT session.  Serve
        paths called inside ``foreachBatch`` pass the micro-batch
        session (``docs.sparkSession``) so every frame in a trigger's
        plan shares one session — the CLAUDE.md foreachBatch rule; a
        read through ``self.spark`` works today only because the
        sessions share a context (r9 ADVICE: the old serve signatures
        took a dead ``spark`` parameter while reading on the MAIN
        session)."""
        return session.read.parquet(str(self.table_path(schema, table)))

    def _manifest_sidecar(self, schema: str, table: str, cols) -> str:
        """Sidecar name for a table's file-stats manifest over a
        given stat-column SET — column-set-keyed so a read over new
        predicate columns rebuilds its own sidecar instead of
        silently pruning on stats it does not have.  The ``.__``
        infix keeps it out of ``list_tables`` and clear of the
        atomic-swap temp namespaces."""
        digest = hashlib.md5(
            "|".join(sorted(cols)).encode()
        ).hexdigest()[:8]
        return f"{table}.__manifest_{digest}"

    def read_pruned(
        self, schema: str, table: str, ranges: dict[str, tuple]
    ) -> tuple[DataFrame, int, int]:
        """(frame, files_read, files_total): the manifest-routed range
        read with its pruning stats (tests and probes read the
        counters; :meth:`read` returns just the frame).

        Steady state (the directory's file set matches the sidecar —
        the common repeated-read case) serves straight from the
        persisted sidecar with ZERO write jobs; otherwise the sidecar
        is synced (``sync_manifest``: stat only never-seen files, drop
        vanished entries — an atomic table replace is just
        all-vanished + all-new), checkpointed, then atomically
        rewritten, so the pruned read never references a swapped-out
        sidecar and a crash between sync and swap only costs a
        re-sync."""
        import pathlib

        from bitcoin_datawarehouse_spark.operators.storage import (
            _as_file_uri,
            manifest_pruned_read,
            sync_manifest,
        )

        cols = sorted(ranges)
        side = self._manifest_sidecar(schema, table, cols)
        data_path = self.table_path(schema, table)
        current = {
            _as_file_uri(str(p))
            for p in pathlib.Path(data_path).rglob("*.parquet")
        }
        old = None
        if self.table_exists(schema, side):
            old = self.read(schema, side)
            known = {
                r[0] for r in old.select("file_path").collect()
            }
            if known == current:
                return manifest_pruned_read(self.spark, old, ranges)
        man = sync_manifest(
            self.spark, old, str(data_path), cols
        ).localCheckpoint()
        self.write_atomic(man, schema, side, coalesce=1)
        return manifest_pruned_read(self.spark, man, ranges)

    def write_atomic(
        self,
        df: DataFrame,
        schema: str,
        table: str,
        coalesce: int | None = None,
        partition_by: list[str] | None = None,
    ) -> None:
        """Replace ``schema.table`` with ``df`` atomically.

        Writes to a tmp sibling, then swaps directories.  The write is
        the only Spark action; the swap is metadata-only.  ``coalesce``
        caps output files for small control tables (avoids the
        many-tiny-files problem when a 32-way shuffle writes 5 rows).
        ``partition_by`` writes a Hive-partitioned layout through the
        swap, hash-clustered on the partition columns (into
        ``coalesce`` partitions when given) so each partition value
        lands in one task → one file per partition directory.
        """
        self.create_schema(schema)
        final = self.table_path(schema, table)
        tmp = staging_dir(final)
        if partition_by:
            df = df.repartition(*([coalesce] if coalesce else []), *partition_by)
        elif coalesce:
            df = df.coalesce(coalesce)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(tmp))
        swap_in(tmp, final, self.keep_versions)

    # -- snapshots ---------------------------------------------------------
    def list_versions(self, schema: str, table: str) -> list[int]:
        """Snapshot timestamps (ms), oldest first."""
        return [
            int(p.name.rsplit("_", 1)[1])
            for p in _snapshots(self.table_path(schema, table))
        ]

    def read_version(self, schema: str, table: str, version_ms: int) -> DataFrame:
        p = self.root / schema / f"{table}.__v_{version_ms:015d}"
        return self.spark.read.parquet(str(p))

    def rollback(self, schema: str, table: str) -> int:
        """Swap the newest snapshot back in as the live table (the
        rolled-back state is itself snapshotted, so rollback is
        reversible).  Returns the restored version's timestamp.

        Deliberately does NOT apply retention pruning: a Warehouse
        handle opened with the default ``keep_versions=0`` would
        otherwise delete every recovery point — including the state
        just rolled away from — as a side effect of recovering.
        Reclaiming snapshot space is ``vacuum``'s explicit job.
        """
        final = self.table_path(schema, table)
        versions = _snapshots(final)
        if not versions:
            raise FileNotFoundError(f"{schema}.{table}: no snapshots")
        swap_in(versions[-1], final, keep=None)
        return int(versions[-1].name.rsplit("_", 1)[1])

    def vacuum(self, schema: str, table: str, keep: int = 0) -> int:
        """Delete all but the newest ``keep`` snapshots; returns the
        number removed."""
        return drop_snapshots(self.table_path(schema, table), keep)

    # -- generation pointers -----------------------------------------------
    def read_pointer(self, sess: SparkSession, schema: str, table: str) -> Row | None:
        """The row of 1-row pointer table ``schema.table`` read through
        ``sess``, or None before its first flip."""
        if not self.table_exists(schema, table):
            return None
        return self.read_with(sess, schema, table).collect()[0]

    def flip_pointer(
        self, sess: SparkSession, schema: str, table: str, ddl: str, *values
    ) -> None:
        """Commit a generation, after writing every table it names:
        replace the pointer's row with ``values`` (typed by ``ddl``).
        Readers resolve the pointer first: old generation or new."""
        self.write_atomic(
            local_rows_df(sess, [values], ddl), schema, table, coalesce=1
        )

    def drop_generations(self, schema: str, prefix: str, below: int) -> None:
        """Drop the tables ``{prefix}{k}`` and ``{prefix}{k}__*`` with
        integer ``k < below`` (``{prefix}raph`` is no generation)."""
        for t in self.list_tables(schema):
            k = t[len(prefix):].split("__", 1)[0]
            if t.startswith(prefix) and k.isdigit() and int(k) < below:
                self.drop_table(schema, t)

    def append(self, df: DataFrame, schema: str, table: str) -> None:
        """Append-only load (reference pg_loader.py:148-155 ``to_sql
        if_exists='append'``).  Parquet appends are file-additive and
        naturally atomic per file."""
        self.create_schema(schema)
        df.write.mode("append").parquet(str(self.table_path(schema, table)))

    @contextlib.contextmanager
    def lock(self, name: str = "pipeline", timeout_s: float = 60.0):
        """Advisory exclusive lock scoped to this warehouse: an OS file
        lock (``flock``) on ``{root}/.lock_{name}``.

        Guards read-modify-overwrite sections (the job-control table,
        merges of the same target) against a second pipeline process;
        the reference relied on Postgres transactions for this.  The
        kernel drops the lock when its holder dies, so a run killed
        while holding it never blocks the next one.  Every call opens
        its own file description, so two threads of one process
        exclude each other as well.  The lock records its holder pid
        for post-mortems and raises ``TimeoutError`` rather than
        queueing forever.
        """
        path = self.root / f".lock_{name}"
        if path.is_dir():  # left behind by the earlier mkdir-based lock
            shutil.rmtree(path, ignore_errors=True)
        deadline = time.monotonic() + timeout_s
        with open(path, "a+") as f:
            while True:
                try:
                    fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except BlockingIOError:
                    if time.monotonic() >= deadline:
                        f.seek(0)
                        holder = f.read() or "?"
                        raise TimeoutError(
                            f"warehouse lock {name!r} held by pid {holder}"
                        ) from None
                    time.sleep(0.1)
            try:
                f.truncate(0)
                f.write(str(os.getpid()))
                f.flush()
                yield
            finally:
                fcntl.flock(f, fcntl.LOCK_UN)

    def compact(
        self, schema: str, table: str, target_file_bytes: int = 128 * 1024 * 1024
    ) -> tuple[int, int]:
        """Rewrite ``schema.table`` into ~target-sized files.

        Incremental merges and streaming foreachBatch appends accrete
        small files (every micro-batch writes its own); scans then pay
        per-file open/footer costs and tiny input splits.  Compaction
        is the standard maintenance pass: read, coalesce to
        ceil(bytes/target), atomic swap.  Returns (files_before,
        files_after).
        """
        path = self.table_path(schema, table)
        # recursive glob: partitioned tables keep data one level down in
        # col=value dirs — a top-level glob would see 0 files and the
        # rewrite would silently flatten the partition layout
        files = list(path.glob("**/*.parquet"))
        total = sum(f.stat().st_size for f in files)
        n_out = max(1, -(-total // target_file_bytes))
        partition_cols = None
        if self.table_exists_partitioned(schema, table):
            # recover the layout from the col=value directory names so
            # the compacted table keeps its pruning
            partition_cols = []
            probe = path
            while True:
                sub = [
                    d for d in probe.iterdir() if d.is_dir() and "=" in d.name
                ]
                if not sub:
                    break
                partition_cols.append(sub[0].name.split("=", 1)[0])
                probe = sub[0]
        self.write_atomic(
            self.read(schema, table),
            schema,
            table,
            coalesce=int(n_out),
            partition_by=partition_cols,
        )
        after = len(
            list(self.table_path(schema, table).glob("**/*.parquet"))
        )
        return len(files), after

    # -- Hive partition layout --------------------------------------------
    def partition_dirs(
        self, schema: str, table: str, col: str, values
    ) -> list[str]:
        """The existing ``col=value`` directories of ``schema.table``
        for ``values`` (sorted; values without a directory skipped).

        A NAMES-ONLY scandir of the table root (no per-file stat, no
        Spark file index) matched on the UNESCAPED directory name,
        never ``path / f"{col}={v}"`` string building: Spark
        %XX-escapes special characters in partition directory names
        (a ':' in a timestamp-like value, a literal '%'), and a
        raw-value probe would treat such an EXISTING partition as new
        — a dynamic overwrite then drops its history.  Hive escaping
        is exactly %XX on the reserved set, so ``unquote`` inverts
        it; a value's key is its string form, NULL's is Hive's
        sentinel."""
        root = self.table_path(schema, table)
        if not root.exists():
            return []
        prefix = f"{col}="
        with os.scandir(root) as entries:
            by_value = {
                unquote(e.name[len(prefix):]): e.path
                for e in entries
                if e.is_dir() and e.name.startswith(prefix)
            }
        keys = {_HIVE_NULL_PART if v is None else str(v) for v in values}
        return sorted(by_value[k] for k in keys if k in by_value)

    def read_partitions(
        self,
        schema: str,
        table: str,
        col: str,
        values,
        session: SparkSession | None = None,
    ) -> DataFrame | None:
        """Read ONLY the partition directories of ``values``, or None
        when none of them exists (genuinely-new values have no
        directory yet).

        A read of the table root builds a file index over EVERY
        partition before pruning — a ~2 s constant on local NVMe
        (tools/probe_loader_scale.py), minutes at 100k partitions —
        so touched-partition reads list only their own directories;
        ``basePath`` keeps ``col`` in the schema.  ``session`` builds
        the frame on the caller's session (a foreachBatch
        micro-batch's), default the warehouse's."""
        dirs = self.partition_dirs(schema, table, col, values)
        if not dirs:
            return None
        return (
            (session or self.spark)
            .read.option("basePath", str(self.table_path(schema, table)))
            .parquet(*dirs)
        )

    def overwrite_partitions(
        self,
        df: DataFrame,
        schema: str,
        table: str,
        col: str,
        max_records_per_file: int | None = None,
    ) -> None:
        """Replace exactly the ``col=value`` directories present in
        ``df`` (dynamic partition overwrite; every other partition's
        files stay byte-untouched), creating the table if missing.

        The partitionBy write is CLUSTERED on ``col`` first.  Without
        the repartition every upstream task holds rows of ~every
        partition value and opens one file per (task, value): a
        2 499-day fact seeded through 32 tasks wrote ~80 000 files
        (measured — tools/probe_loader_scale.py; 169 s at 600 k rows,
        dominated by file creation, and every later reader pays the
        open/footer cost again).  Hash-clustering by the partition
        value writes ONE file per touched partition per non-empty
        shuffle partition — 2 499 files for the same seed, 21× faster
        (8 s).

        ``max_records_per_file`` is the hot-partition lever: one
        cluster key means ONE task writes a whole partition, and at
        100 TB a hot day can exceed a single comfortable file.  The
        writer option rolls a task's output to a new file every N
        records — no extra shuffle, and a salted repartition would be
        undone by AQE coalescing anyway (measured: the salted variant
        still wrote one file per day at fixture scale).
        """
        self.create_schema(schema)
        writer = dynamic_overwrite(df.repartition(col).write)
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer.partitionBy(col).parquet(str(self.table_path(schema, table)))

    # -- storage layout (the 100 TB levers) --------------------------------
    def write_zordered(
        self,
        df: DataFrame,
        schema: str,
        table: str,
        zcols: tuple[str, str],
        n_files: int = 16,
        bits: int = 8,
    ) -> None:
        """Z-order clustered layout: files range-partitioned along a
        Morton curve over two columns, so parquet footer min/max
        statistics are tight *rectangles* in (a, b) space and a
        predicate on EITHER or BOTH columns skips most files — the
        multi-dimensional analog of sorting (what Delta/Iceberg
        ``OPTIMIZE ZORDER BY`` produces; single-column sorting can
        only cluster one dimension).

        Each column is min/max-normalized to ``bits`` bits (the two
        extremes are one cheap aggregate — four scalars to the
        driver), the bit patterns are interleaved JVM-side into the
        curve position, and ``repartitionByRange`` + in-partition sort
        cluster the files.  At 100 TB: n_files ≈ table_bytes/256 MB,
        and the min/max agg is a map-side-combining scan."""
        from pyspark.sql import functions as F

        a, b = zcols
        lo_a, hi_a, lo_b, hi_b = df.agg(
            F.min(F.col(a).cast("double")),
            F.max(F.col(a).cast("double")),
            F.min(F.col(b).cast("double")),
            F.max(F.col(b).cast("double")),
        ).first()
        if lo_a is None or lo_b is None:
            # empty input (min/max aggregate to NULL): write the empty
            # table rather than TypeError-ing on None arithmetic below
            self.write_atomic(df, schema, table)
            return
        top = (1 << bits) - 1

        def quant(col: str, lo: float, hi: float):
            span = (hi - lo) or 1.0
            q = F.floor(
                (F.col(col).cast("double") - F.lit(lo))
                / F.lit(span)
                * F.lit(float(top))
            ).cast("long")
            return F.greatest(F.lit(0), F.least(F.lit(top), q))

        qa, qb = quant(a, lo_a, hi_a), quant(b, lo_b, hi_b)
        z = F.lit(0).cast("long")
        for i in range(bits):
            z = (
                z
                + F.shiftleft(F.shiftright(qa, i).bitwiseAND(1), 2 * i + 1)
                + F.shiftleft(F.shiftright(qb, i).bitwiseAND(1), 2 * i)
            )
        self.write_atomic(
            df.withColumn("__z", z)
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z"),
            schema,
            table,
        )

    def write_bucketed(
        self,
        df: DataFrame,
        schema: str,
        table: str,
        bucket_cols: list[str],
        n_buckets: int,
        sort_cols: list[str] | None = None,
    ) -> str:
        """Bucketed table (hash-clustered files on the join/agg key):
        two tables bucketed identically join WITHOUT a shuffle — the
        co-location lever for repeated fact↔fact joins.

        r12: the input is hash-CLUSTERED on the bucket columns before
        the write (see :func:`_bucket_clustered`) — a bucketed
        ``saveAsTable`` does not shuffle, so an unclustered input
        writes up to tasks×buckets files (measured: 329–351 files per
        128-bucket IVF lists table at sf0.1; ≤128 after).  The same
        partitionBy rule CLAUDE.md records for
        :meth:`overwrite_partitions`, applied to the bucket layout.

        Registered through the session catalog (``saveAsTable``) since
        bucketing metadata lives there; the files land under
        ``spark.sql.warehouse.dir``.  Returns the catalog table name
        (``{schema}_{table}`` — session-catalog names are one-level
        here; a production deployment points the session at a shared
        metastore and keeps real two-level names).
        """
        name = f"{schema}_{table}"
        # the session catalog is in-memory: a table location left on
        # disk by a PREVIOUS session has no catalog entry, and
        # saveAsTable(overwrite) refuses to adopt it — drop both
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        wdir = self.spark.conf.get("spark.sql.warehouse.dir", "")
        if wdir:
            # Hadoop FS delete works for ANY warehouse scheme (file:,
            # hdfs:, s3a:); a local-Path rmtree silently no-ops on
            # remote schemes and the stale location then breaks the
            # saveAsTable(overwrite) below
            loc = f"{wdir.rstrip('/')}/{name.lower()}"
            fs_path = hadoop_fs(self.spark, loc)
            if fs_path is not None:
                fs, hpath = fs_path
                if fs.exists(hpath):
                    fs.delete(hpath, True)
            else:
                # no JVM gateway (Spark Connect): a local rmtree is
                # only correct for a file: warehouse — anywhere else
                # a silent no-op leaves the stale location in place
                # and the overwrite below fails or adopts stale data,
                # so refuse loudly (same contract as IvfIndex's file
                # counting)
                _require_local_scheme(wdir, "write_bucketed stale-dir cleanup")
                stale = Path(wdir.removeprefix("file:")) / name.lower()
                if stale.exists():
                    shutil.rmtree(stale)
        writer = (
            _bucket_clustered(df, bucket_cols, n_buckets)
            .write.mode("overwrite")
            .bucketBy(n_buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(name)
        return name

    def append_bucketed(
        self,
        df: DataFrame,
        schema: str,
        table: str,
        bucket_cols: list[str],
        n_buckets: int,
        sort_cols: list[str] | None = None,
    ) -> str:
        """Append to a bucketed table created by :meth:`write_bucketed`
        (the incremental-ingest path of a persisted index): new files
        are hash-clustered into the SAME bucket layout, so scans keep
        their bucket pruning and co-located join properties.  The
        bucketing spec must match the existing table's — Spark rejects
        a mismatched append, which is the correctness guard."""
        name = f"{schema}_{table}"
        writer = (
            _bucket_clustered(df, bucket_cols, n_buckets)
            .write.mode("append")
            .bucketBy(n_buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(name)
        return name

    def export_jsonl_shards(
        self,
        df: DataFrame,
        schema: str,
        table: str,
        n_shards: int,
        order_col: str | None = None,
        compression: str = "gzip",
    ) -> None:
        """Training-data export: the table as ``n_shards`` compressed
        JSONL files — the interchange format tokenizer/loader fleets
        consume (one shard per loader worker).

        ``order_col`` sorts rows *within* each shard
        (``sortWithinPartitions`` — no global sort, no extra shuffle
        beyond the repartition); shard membership is round-robin for
        even sizes.  At 100 TB pick n_shards ≈ corpus_bytes / 256 MB.
        """
        self.create_schema(schema)
        out = df.repartition(n_shards)
        if order_col:
            out = out.sortWithinPartitions(order_col)
        final = self.table_path(schema, table)
        tmp = staging_dir(final)
        out.write.mode("overwrite").option("compression", compression).json(str(tmp))
        swap_in(tmp, final, self.keep_versions)

    def read_jsonl(
        self, schema: str, table: str, read_schema: str | None = None
    ) -> DataFrame:
        """Read a JSONL export back; pass ``read_schema`` (DDL string)
        to skip the inference scan — at corpus scale inference reads
        every byte twice."""
        reader = self.spark.read
        if read_schema:
            reader = reader.schema(read_schema)
        return reader.json(str(self.table_path(schema, table)))

    def export_tar_shards(
        self,
        df: DataFrame,
        schema: str,
        table: str,
        n_shards: int,
        key_col: str = "doc_id",
        payload_col: str = "payload",
        meta_cols: list[str] | None = None,
    ) -> None:
        """Multimodal training export: WebDataset-style tar shards.

        Each row becomes two members of its shard's tar — ``{key}.bin``
        (the binary payload) and ``{key}.json`` (the scalar metadata) —
        the layout image/audio training loaders stream sequentially
        (one tar per loader worker, no per-sample object-store round
        trips).  Shard membership is md5(key) mod n_shards, so it is
        deterministic and stable under corpus growth; rows are sorted
        by key within the shard and tar headers are normalized
        (mtime/uid/gid = 0), making every shard byte-reproducible.

        Writing happens executor-side in ``foreachPartition``: the
        frame is hash-repartitioned on the shard id, so one task owns
        every row of a shard and streams it into a single tar (the
        shard id each row carries is the ONE source of truth — tasks
        never recompute it, so no two tasks can open the same tar).
        Shards land in a staging sibling published by :func:`swap_in`
        at the end, so no reader sees a half-written export.  The
        warehouse root must be visible to executors (local FS here; a
        shared filesystem or an object-store upload in the same
        iterator at production scale).
        """
        import io
        import json
        import tarfile

        meta_cols = list(meta_cols or [])
        self.create_schema(schema)
        final = self.table_path(schema, table)
        tmp = staging_dir(final)
        tmp.mkdir()
        tmp_s = str(tmp)

        cols = [key_col, payload_col, *meta_cols]

        def write_partition(rows) -> None:
            tars: dict[int, tarfile.TarFile] = {}
            try:
                for r in rows:
                    sid = r["__shard"]
                    tf = tars.get(sid)
                    if tf is None:
                        tf = tarfile.open(
                            os.path.join(tmp_s, f"shard-{sid:05d}.tar"),
                            "w",
                        )
                        tars[sid] = tf
                    payload = bytes(r[payload_col])
                    meta = json.dumps(
                        {c: r[c] for c in meta_cols}, sort_keys=True
                    ).encode()
                    for suffix, body in ((".bin", payload), (".json", meta)):
                        info = tarfile.TarInfo(name=f"{r[key_col]}{suffix}")
                        info.size = len(body)
                        info.mtime = 0
                        info.uid = info.gid = 0
                        info.uname = info.gname = ""
                        tf.addfile(info, io.BytesIO(body))
            finally:
                for tf in tars.values():
                    tf.close()

        from pyspark.sql import functions as F

        shard = (
            F.conv(F.substring(F.md5(F.col(key_col).cast("string").cast("binary")), 1, 8), 16, 10)
            .cast("long")
            % n_shards
        ).alias("__shard")
        (
            df.select(*cols)
            .select("*", shard)
            .repartition(n_shards, "__shard")
            .sortWithinPartitions("__shard", key_col)
            .foreachPartition(write_partition)
        )
        swap_in(tmp, final, self.keep_versions)

    def read_tar_shards(
        self, schema: str, table: str, meta_schema: str | None = None
    ) -> DataFrame:
        """Read a tar-shard export back as (key, payload, meta_json
        [, parsed meta columns]).

        The ``binaryFile`` source yields one row per shard tar (whole
        shards are the IO unit, matching how loaders consume them);
        an Arrow ``mapInPandas`` unpacks members.  Pass ``meta_schema``
        (DDL string) to explode the JSON metadata into typed columns.
        """
        import io
        import tarfile

        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        out_schema = T.StructType(
            [
                T.StructField("key", T.StringType()),
                T.StructField("payload", T.BinaryType()),
                T.StructField("meta_json", T.StringType()),
            ]
        )

        def unpack(batches):
            # one output frame per tar: memory is bounded by a single
            # shard's contents, not every shard in the Arrow batch
            for pdf in batches:
                for content in pdf["content"]:
                    keys, payloads, metas = [], [], []
                    with tarfile.open(
                        fileobj=io.BytesIO(bytes(content))
                    ) as tf:
                        bins: dict[str, bytes] = {}
                        jsons: dict[str, str] = {}
                        for m in tf.getmembers():
                            body = tf.extractfile(m).read()
                            stem, _, ext = m.name.rpartition(".")
                            if ext == "bin":
                                bins[stem] = body
                            else:
                                jsons[stem] = body.decode()
                        for stem in sorted(bins):
                            keys.append(stem)
                            payloads.append(bins[stem])
                            metas.append(jsons.get(stem, "{}"))
                    yield pd.DataFrame(
                        {"key": keys, "payload": payloads, "meta_json": metas}
                    )

        files = (
            self.spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.tar")
            .load(str(self.table_path(schema, table)))
            .select("content")
        )
        out = files.mapInPandas(unpack, schema=out_schema)
        if meta_schema:
            out = out.select(
                "key",
                "payload",
                F.from_json("meta_json", meta_schema).alias("m"),
            ).select("key", "payload", "m.*")
        return out
