"""The two workloads and the closed loop that measures them.

One client, one process, ``local[N]``; each op waits for the previous
one (closed loop).  A run is:

1. inputs generated from the seed (the benchmark's own work, untimed);
2. set-up: ``get_spark`` plus the workload's program-side preparation;
3. warm-up, which is also the untimed correctness pass;
4. the timed window: whole rounds, a new round starting while fewer than
   ``--seconds`` have elapsed;
5. with ``--trace 1``, one more round with the span recorder installed.

Workloads (why each exists is recorded in BENCHMARK.json and DESIGN.md):

* ``warehouse_sync``  — one ``Pipeline.run(INCREMENTAL)`` of the five
  reference jobs per op, every op from the same restored start state,
  timed from the second incremental op on;
* ``corpus_curation`` — rounds over the curation/kernel queries.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import datagen
from perfbench.check import Oracle, canonical, check_sync_state, expected_sync_state
from perfbench.metrics import extends_window, scored_rounds, starts_round, steal_s

CURATION_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_embedding_cosine_lsh_auto",
    "dedup_semantic_semdedup_auto",
    "similarity_ivf_topk",
    "text_lm_quality_approx",
]
CURATION_TABLES = ["documents", "embeddings"]
#: a timed round during which the hypervisor took at least this share of
#: the guest's CPU capacity (steal) counts as interfered with
STEAL_SHARE = 0.05
#: rounds the window may add after ``--seconds`` while every round was
#: interfered with
EXTRA_ROUNDS = 2


@dataclass(frozen=True)
class Scale:
    """Input sizes; ``SMOKE`` is the tiny variant the self-test runs."""

    corpus_sf: float
    sync: datagen.SyncSize
    prep_repeats: int = 3


FULL = Scale(corpus_sf=0.01,
             sync=datagen.SyncSize(base_days=30, blocks_per_day=24, tx_per_block=25))
SMOKE = Scale(corpus_sf=0.001,
              sync=datagen.SyncSize(base_days=3, blocks_per_day=2, tx_per_block=3),
              prep_repeats=1)


@dataclass
class Op:
    kind: str          # op type (query name, or "sync")
    latency: float
    ok: bool
    group: str
    #: CPU seconds the hypervisor took from this guest during the op
    steal: float = 0.0


@dataclass
class RunLog:
    prep_walls: list[float] = field(default_factory=list)
    warm: list[Op] = field(default_factory=list)
    timed: list[Op] = field(default_factory=list)
    round_walls: list[float] = field(default_factory=list)
    #: per timed round: index of its first op in ``timed``
    round_first: list[int] = field(default_factory=list)
    #: per timed round: its ops if none failed, else 0
    round_done: list[int] = field(default_factory=list)
    #: per timed round: steal during its ops ÷ (round wall × CPUs)
    round_steal_share: list[float] = field(default_factory=list)
    traced: list[Op] = field(default_factory=list)
    check_failures: list[str] = field(default_factory=list)
    checks: int = 0


def owner_module(name: str) -> str:
    """Operator module that registered query ``name`` (metric naming)."""
    from bitcoin_datawarehouse_spark.registry import QUERIES, load_all_operators

    load_all_operators()
    return QUERIES[name].__module__.rsplit(".", 1)[-1]


class QueryWorkload:
    """Rounds over a fixed list of registry queries, noop-sink forced."""

    def __init__(self, names: list[str], sf: float, prep_repeats: int) -> None:
        self.names = names
        self.tables = CURATION_TABLES
        self.sf = sf
        self.prep_repeats = prep_repeats
        self.data_dir: Path | None = None

    def make_inputs(self, work: Path, seed: int) -> None:
        self.data_dir = work / "data"
        datagen.write_corpus(self.data_dir, seed, self.sf)

    def prepare(self, spark) -> None:
        """Program-side set-up: operator registration and table scans
        (schema discovery of every input table)."""
        from bitcoin_datawarehouse_spark.registry import load_all_operators
        from bitcoin_datawarehouse_spark.tables import load_table

        load_all_operators()
        for t in self.tables:
            load_table(spark, str(self.data_dir), t).schema  # noqa: B018

    def warm_and_check(self, spark, meter, log: RunLog) -> None:
        """First execution of every query, collected and compared with
        its DuckDB oracle, then one noop-sink pass (all untimed)."""
        from bitcoin_datawarehouse_spark.functions.cachereg import release_tracked_caches
        from bitcoin_datawarehouse_spark.registry import ORACLES, QUERIES

        oracle = Oracle(self.data_dir, self.tables)
        try:
            for name in self.names:
                group = f"warm-{name}"
                meter.set_group(group, name)
                t0 = time.perf_counter()
                ok = True
                try:
                    df = QUERIES[name](spark, str(self.data_dir))
                    got = canonical([tuple(r) for r in df.collect()], df.columns)
                except Exception as e:  # noqa: BLE001 — a failed op is counted
                    ok, got = False, None
                    log.check_failures.append(f"{name}: {type(e).__name__}: {e}")
                lat = time.perf_counter() - t0
                meter.clear_group()
                release_tracked_caches()
                log.warm.append(Op(name, lat, ok, group))
                log.checks += 1
                if got is not None:
                    want = oracle.digest(ORACLES[name])
                    if got != want:
                        log.check_failures.append(f"{name}: result differs from its DuckDB oracle")
        finally:
            oracle.close()
        # a second, untimed pass on the timed (noop-sink) path: the first
        # pass leaves JIT compilation running into the next execution,
        # which made single timed rounds swing by a third run to run
        self.run_round(spark, meter, "warm2", log.warm)

    def run_round(self, spark, meter, tag: str, sink: list[Op]) -> float:
        """One execution of every query; returns the round's wall."""
        from bitcoin_datawarehouse_spark.functions.cachereg import release_tracked_caches
        from bitcoin_datawarehouse_spark.registry import QUERIES

        t_round = time.perf_counter()
        for name in self.names:
            group = f"{tag}-{len(sink)}-{name}"
            meter.set_group(group, name)
            st0, t0 = steal_s(), time.perf_counter()
            ok = True
            try:
                QUERIES[name](spark, str(self.data_dir)).write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 — a failed op is counted
                ok = False
                traceback.print_exc()
            sink.append(Op(name, time.perf_counter() - t0, ok, group, steal_s() - st0))
            meter.clear_group()
            # repeated queries must not time cache hits
            release_tracked_caches()
        return time.perf_counter() - t_round

    def final_check(self, spark, log: RunLog) -> None:
        pass

    @property
    def batch_rows(self) -> int:
        return 0


class SyncWorkload:
    """The reference's write path: fetch, column transform, merge-load
    under the ``etl.etl_job`` control table.

    The base warehouse (``base_days`` of history in all five targets) is
    built once by a first, full-refresh ``Pipeline.run`` and copied
    aside; before every op, warm-up or timed, the warehouse is restored
    from that copy and the op's one-day batch is recorded, so every op
    does the same work on the same target size."""

    #: a repeat would cost a second cold first sync (~15 s) per run
    prep_repeats = 1
    #: untimed incremental ops after the full first sync
    warm_ops = 1

    def __init__(self, size: datagen.SyncSize) -> None:
        self.size = size
        self.seed = 0
        self.work: Path | None = None
        self.pipe = None
        self.n_ops = 0
        self.last_batch: dict[int, list[dict]] | None = None

    @property
    def batch_rows(self) -> int:
        return self.size.batch_rows

    def make_inputs(self, work: Path, seed: int) -> None:
        from examples.bitcoin_warehouse_demo import record_responses

        self.work, self.seed = work, seed
        self.base_rows = datagen.sync_history(seed, self.size)
        record_responses(work / "responses", self.base_rows)

    def prepare(self, spark) -> None:
        from examples.bitcoin_warehouse_demo import REFERENCE_JOBS, TRANSFORM_SPEC

        from bitcoin_datawarehouse_spark.pipeline import (
            FileReplaySource, LoadStrategy, Pipeline, Warehouse, parse_spec,
        )

        wh = Warehouse(spark, str(self.work / "wh"))
        self.pipe = Pipeline(
            spark, wh, FileReplaySource(str(self.work / "responses"), param_column="date"),
            specs=parse_spec(TRANSFORM_SPEC),
        )
        self.jobs = [name for name, *_ in REFERENCE_JOBS]
        self.pipe.control.seed([
            {"job_name": name, "query_id": qid, "target_table": tgt, "p_key": key,
             "status": 0, "active": 1, "incremental_column": "date"}
            for name, qid, tgt, key in REFERENCE_JOBS
        ])
        st0, t0 = steal_s(), time.perf_counter()
        res = self.pipe.run(strategy=LoadStrategy.INCREMENTAL)  # first sync: full refresh
        self.first_sync = Op("first_sync", time.perf_counter() - t0, all(r.ok for r in res),
                             "prep", steal_s() - st0)
        if not self.first_sync.ok:
            raise RuntimeError(f"base sync failed: {[r.error for r in res if not r.ok]}")
        shutil.copytree(self.work / "wh", self.work / "base")

    def _stage_op(self) -> None:
        """Untimed: restore the start state, record this op's batch."""
        from examples.bitcoin_warehouse_demo import record_responses

        shutil.rmtree(self.work / "wh")
        shutil.copytree(self.work / "base", self.work / "wh")
        self.last_batch = datagen.sync_day(
            self.seed, self.size.base_days, self.size, variant=self.n_ops, reorg=True
        )
        self.n_ops += 1
        record_responses(self.work / "responses", self.last_batch)

    def _one(self, meter, group: str) -> Op:
        from bitcoin_datawarehouse_spark.pipeline import LoadStrategy

        self._stage_op()
        meter.set_group(group, "sync")
        st0, t0 = steal_s(), time.perf_counter()
        try:
            failed = [r for r in self.pipe.run(strategy=LoadStrategy.INCREMENTAL) if not r.ok]
        except Exception as e:  # noqa: BLE001 — a failed op is counted
            failed = [e]
        for f in failed:
            print(f"sync op {group} failed: {f}", file=sys.stderr)
        ok = not failed
        op = Op("sync", time.perf_counter() - t0, ok, group, steal_s() - st0)
        meter.clear_group()
        return op

    def warm_and_check(self, spark, meter, log: RunLog) -> None:
        """The full first sync of set-up, then ``warm_ops`` untimed
        incremental ops: an op's latency keeps falling over the first
        incremental ops and varies most there (DESIGN.md).  The end state
        is checked after the timed window (``final_check``)."""
        log.warm.append(self.first_sync)
        for i in range(self.warm_ops):
            op = self._one(meter, f"warm-{i}-sync")
            log.warm.append(op)
            log.checks += 1
            if not op.ok:
                log.check_failures.append(f"warm-up sync op {i} failed")

    def run_round(self, spark, meter, tag: str, sink: list[Op]) -> float:
        """One sync op; returns its latency (the untimed restore before
        it is not part of the round)."""
        sink.append(self._one(meter, f"{tag}-{len(sink)}-sync"))
        return sink[-1].latency

    def final_check(self, spark, log: RunLog) -> None:
        """End state of the last op against the generated rows."""
        rows = {q: list(v) for q, v in self.base_rows.items()}
        for q, v in self.last_batch.items():
            rows[q].extend(v)
        log.checks += 1
        log.check_failures.extend(
            check_sync_state(self.pipe.wh, expected_sync_state(rows), self.jobs)
        )


def make(workload: str, scale: Scale):
    if workload == "warehouse_sync":
        return SyncWorkload(scale.sync)
    if workload == "corpus_curation":
        return QueryWorkload(CURATION_QUERIES, scale.corpus_sf, scale.prep_repeats)
    raise ValueError(f"unknown workload {workload!r}")


def measure(wl, spark, meter, seconds: float, log: RunLog,
            extend_until: float = float("inf")) -> float:
    """The timed window of whole rounds; returns its measured wall.

    Rounds start while fewer than ``seconds`` have elapsed; then up to
    ``EXTRA_ROUNDS`` more run while the hypervisor interfered with every
    round so far (``STEAL_SHARE``), none of them starting after
    ``extend_until`` (a ``perf_counter`` value).  A round with a failed op
    completes no op (``log.round_done``); its wall stays in the window."""
    cpus = os.cpu_count() or 1

    def one_round() -> None:
        n0 = len(log.timed)
        wall = wl.run_round(spark, meter, "op", log.timed)
        ops = log.timed[n0:]
        log.round_walls.append(wall)
        log.round_first.append(n0)
        log.round_done.append(len(ops) if all(o.ok for o in ops) else 0)
        log.round_steal_share.append(sum(o.steal for o in ops) / (wall * cpus))

    t_start = time.perf_counter()
    while starts_round(time.perf_counter() - t_start, len(log.round_walls), seconds):
        one_round()
    max_rounds = len(log.round_walls) + EXTRA_ROUNDS
    while (time.perf_counter() < extend_until
           and extends_window([s >= STEAL_SHARE for s in log.round_steal_share], max_rounds)):
        one_round()
    return sum(log.round_walls)


def scored_ops(log: RunLog) -> tuple[list[int], list[Op]]:
    """The rounds the medians are taken over (``metrics.scored_rounds``)
    and their ops."""
    ends = log.round_first[1:] + [len(log.timed)]
    rounds = [log.timed[a:b] for a, b in zip(log.round_first, ends)]
    keep = scored_rounds([s >= STEAL_SHARE for s in log.round_steal_share],
                         [not all(o.ok for o in r) for r in rounds])
    return keep, [o for i in keep for o in rounds[i]]


def prep_median(wl, spark, log: RunLog) -> float:
    """Program-side set-up, ``wl.prep_repeats`` times; the median wall."""
    walls = []
    for _ in range(wl.prep_repeats):
        t0 = time.perf_counter()
        wl.prepare(spark)
        walls.append(time.perf_counter() - t0)
    log.prep_walls = walls
    return statistics.median(walls)
