"""Z-block-partitioned table: the storage tier's production loop.

The LSH and IVF index families earned their 100 TB story from the same
three verbs — seed, ingest, compact — over a bucket-partitioned layout
whose buckets the read path prunes.  This module gives the STORAGE
tier that loop: rows land in directory partitions keyed by the coarse
prefix of their Morton z-key (functions/zorder.py), so

* **ingest** appends only to the blocks the batch touches (cost ∝
  batch, file creation bounded by touched blocks × shuffle partitions
  — the clustered-partitionBy rule of `Warehouse.overwrite_partitions`
  applied to z-space);
* **compact** rewrites only blocks whose file count crossed a
  threshold, sorting by the full z-key inside the block (tight
  row-group stats); untouched block directories stay byte-identical;
* **read_range** turns a value-space rectangle into the covered
  bucket rectangle, enumerates the coarse block grid driver-side
  (≤ 2^(2·block_bits) blocks — planning state, deliberately tiny),
  and reads only intersecting block directories, re-applying the
  exact predicate.

Bucket scales are pinned at table creation (a sidecar JSON): bucketing
must be stable across ingests — recomputing maxes per batch would
re-bucket history.  Pick domains with headroom (they are value bounds,
not data maxes).
"""

from __future__ import annotations

import json
import pathlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bitcoin_datawarehouse_spark.functions.zorder import bucketize, zorder2
from bitcoin_datawarehouse_spark.pipeline.catalog import (
    dynamic_overwrite,
    hive_dirs,
)

Z_TOTAL_BITS = 32  # two 16-bit interleaved dimensions


class ZOrderedTable:
    """See module docstring.  ``dims`` = [(col, domain_max_plus_one)]
    for exactly two non-negative integer columns."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        dims: list[tuple[str, int]] | None = None,
        block_bits: int = 4,
        max_files_per_block: int = 8,
    ) -> None:
        if dims is not None and len(dims) != 2:
            raise ValueError("ZOrderedTable interleaves exactly 2 dims")
        self.spark = spark
        self.path = pathlib.Path(path)
        self.max_files_per_block = max_files_per_block
        meta = self.path / "_ztable_meta.json"
        if meta.exists():
            m = json.loads(meta.read_text())
            self.dims = [tuple(d) for d in m["dims"]]
            self.block_bits = m["block_bits"]
            # the sidecar is authoritative (bucketing must stay stable
            # across ingests) — but silently ignoring DIFFERENT
            # caller-supplied geometry would alias z-keys and clamp
            # read ranges to the stale domain (review-caught): refuse.
            if dims is not None and [tuple(d) for d in dims] != self.dims:
                raise ValueError(
                    f"table at {path} pinned dims {self.dims}; "
                    f"got {dims} — delete the table to re-key it"
                )
            if dims is not None and block_bits != self.block_bits:
                raise ValueError(
                    f"table at {path} pinned block_bits "
                    f"{self.block_bits}; got {block_bits}"
                )
        elif dims is not None:
            self.dims = dims
            self.block_bits = block_bits
            self.path.mkdir(parents=True, exist_ok=True)
            meta.write_text(
                json.dumps({"dims": dims, "block_bits": block_bits})
            )
        else:
            raise ValueError(f"no table at {path} and no dims given")

    # -- key derivation ----------------------------------------------------
    def _zkey(self):
        (ca, ma), (cb, mb) = self.dims
        return zorder2(
            bucketize(F.col(ca), F.lit(int(ma))),
            bucketize(F.col(cb), F.lit(int(mb))),
        )

    def _with_keys(self, df: DataFrame) -> DataFrame:
        shift = Z_TOTAL_BITS - 2 * self.block_bits
        z = self._zkey()
        return df.withColumn("zkey", z).withColumn(
            "zblock", F.shiftrightunsigned(F.col("zkey"), shift)
        )

    # -- verbs ---------------------------------------------------------------
    def _write(self, df: DataFrame, mode: str) -> None:
        # cluster on the partition value (the overwrite_partitions
        # rule: one file per touched block per write, not per task);
        # the secondary zblock sort keeps the writer on ONE open file
        # at a time when several blocks hash to a task, with zkey
        # order preserved inside each file (tight row-group stats)
        (
            self._with_keys(df)
            .repartition(F.col("zblock"))
            .sortWithinPartitions("zblock", "zkey")
            .write.mode(mode)
            .partitionBy("zblock")
            .parquet(str(self.path / "data"))
        )

    def seed(self, df: DataFrame) -> None:
        self._write(df, "overwrite")

    def ingest(self, df: DataFrame) -> None:
        """Append a batch: one clustered shuffle on the touched
        blocks, one file per (touched block, non-empty partition)."""
        self._write(df, "append")

    # -- maintenance -------------------------------------------------------
    def _block_dirs(self) -> dict[int, pathlib.Path]:
        """``{block id: directory}`` of the table's z-blocks."""
        return {
            int(v): pathlib.Path(d)
            for v, d in hive_dirs(self.path / "data", "zblock").items()
        }

    def compact(self) -> list[str]:
        """Rewrite every block whose parquet file count exceeds the
        threshold, as ONE Spark job: read only the over-threshold
        block directories (basePath keeps ``zblock``), re-cluster, and
        land them under dynamic partition-overwrite — exactly the
        mechanics of ``Warehouse.overwrite_partitions`` (keeping its
        own zkey sort inside each block): the repartition shuffle fully
        materializes the old files' rows before the commit replaces
        their directories, and dynamic mode leaves every other block's
        files untouched bytes.  (A per-block job loop was 50× slower
        at 256 small blocks — each job pays the scheduling floor;
        measured in SCALING.md.)  Returns rewritten block names."""
        over = [
            d
            for _, d in sorted(self._block_dirs().items())
            if len(list(d.glob("*.parquet"))) > self.max_files_per_block
        ]
        if not over:
            return []
        frame = (
            self.spark.read.option("basePath", str(self.path / "data"))
            .parquet(*[str(d) for d in over])
            .repartition(F.col("zblock"))
            .sortWithinPartitions("zblock", "zkey")
        )
        dynamic_overwrite(frame.write).partitionBy("zblock").parquet(
            str(self.path / "data")
        )
        return [d.name for d in over]

    # -- read path -----------------------------------------------------------
    def _blocks_for(self, ranges: dict[str, tuple]) -> list[int]:
        """Blocks whose bucket rectangle intersects the query's —
        enumerated over the coarse 2^bits × 2^bits grid driver-side."""
        (ca, ma), (cb, mb) = self.dims
        coarse = 16 - self.block_bits

        def coarse_range(col: str, m: int) -> tuple[int, int]:
            lo, hi = ranges.get(col, (0, m - 1))
            lo, hi = max(int(lo), 0), min(int(hi), m - 1)
            return ((lo << 16) // m) >> coarse, ((hi << 16) // m) >> coarse

        a_lo, a_hi = coarse_range(ca, int(ma))
        b_lo, b_hi = coarse_range(cb, int(mb))
        out = []
        for a in range(a_lo, a_hi + 1):
            for b in range(b_lo, b_hi + 1):
                z = 0
                for i in range(self.block_bits):
                    z |= ((a >> i) & 1) << (2 * i)
                    z |= ((b >> i) & 1) << (2 * i + 1)
                out.append(z)
        return sorted(out)

    def read_range(
        self, ranges: dict[str, tuple]
    ) -> tuple[DataFrame, int, int]:
        """(frame, blocks_read, blocks_total) for a dict of
        ``col: (lo, hi)`` value ranges over the two z dimensions."""
        dirs = self._block_dirs()
        keep = [b for b in self._blocks_for(ranges) if b in dirs]
        pred = F.lit(True)
        for c, (lo, hi) in ranges.items():
            pred = pred & (F.col(c) >= F.lit(lo)) & (F.col(c) <= F.lit(hi))
        if not keep:
            return (
                self.read_all().where(F.lit(False)),
                0,
                len(dirs),
            )
        df = (
            self.spark.read.option("basePath", str(self.path / "data"))
            .parquet(*[str(dirs[b]) for b in keep])
            .where(pred)
        )
        return df, len(keep), len(dirs)

    def read_range_manifest(
        self, ranges: dict[str, tuple]
    ) -> tuple[DataFrame, int, int]:
        """(frame, files_read, files_total): range read through the
        table's maintained file-stats manifest sidecar
        (``<path>/manifest``, kept fresh by the streaming ingest loop
        or an explicit ``refresh_manifest_sidecar``) — finer than
        :meth:`read_range`'s z-block pruning (per-FILE min/max
        intersect vs per-block coarse ranges), same exact predicate
        re-applied.  The catalog twin is ``Warehouse.read_pruned``."""
        from bitcoin_datawarehouse_spark.operators.storage import (
            manifest_pruned_read,
            refresh_manifest_sidecar,
        )

        from bitcoin_datawarehouse_spark.operators.storage import (
            build_manifest,
        )

        mdir = self.path / "manifest"
        man = (
            self.spark.read.parquet(str(mdir)) if mdir.exists() else None
        )
        if man is not None and any(
            f"min_{c}" not in man.columns for c in ranges
        ):
            # maintained over a DIFFERENT stat-column set (kept rows
            # can't grow new stat columns, and mispruning on missing
            # stats is silent) — serve this read from a TRANSIENT
            # stats pass over the data dir, never by rebuilding the
            # maintainer's sidecar: the streaming loop's next
            # refresh_manifest_sidecar would union its column set
            # against ours and crash (review-caught clobbering)
            man = None
        if man is None:
            if mdir.exists():
                man = build_manifest(
                    self.spark, str(self.path / "data"), sorted(ranges)
                )
            else:
                # no sidecar at all: build AND persist (this reader
                # becomes the maintainer)
                man = refresh_manifest_sidecar(
                    self.spark, str(self.path), sorted(ranges)
                )
        return manifest_pruned_read(self.spark, man, ranges)

    def read_all(self) -> DataFrame:
        return self.read_all_with(self.spark)

    def read_all_with(self, spark: SparkSession) -> DataFrame:
        """Read through an explicit session — foreachBatch callers
        must build every frame of one plan from the MICRO-BATCH
        session (streaming/ztable_stream.py)."""
        return spark.read.parquet(str(self.path / "data"))
