"""Metric math and the two outside-the-program meters.

* pure functions over measured samples (tested in ``tests/``): the
  per-type median geomean, the whole-round window rule, the percentile
  that keeps ten samples beyond it, bytes per row;
* ``ProcTree``: CPU seconds and peak RSS of this process and every
  descendant (the Spark JVM and its Python workers), read from ``/proc``;
* ``SparkMeter``: per-op Spark counters read from the application status
  store (jobs of one job group) and the SQL status store (the
  Python-eval nodes' data-sent/returned metrics).
"""

from __future__ import annotations

import math
import os
import re
import statistics
from collections.abc import Iterable, Sequence


def geomean_of_medians(latencies: dict[str, Sequence[float]]) -> float:
    """Geometric mean, across op types, of each type's median latency.
    One op type gives that type's plain median; an infinite median (a
    type whose ops mostly failed) gives an infinite mean."""
    meds = [statistics.median(v) for v in latencies.values() if v]
    if not meds:
        raise ValueError("no samples")
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def latencies_by_type(ops: Iterable) -> dict[str, list[float]]:
    """Op latencies grouped by op type (``kind``).  A failed op counts as
    an infinite latency, so a failure can only raise its type's median,
    never lower it by failing fast."""
    out: dict[str, list[float]] = {}
    for o in ops:
        out.setdefault(o.kind, []).append(o.latency if o.ok else math.inf)
    return out


def starts_round(elapsed: float, rounds_done: int, seconds: float) -> bool:
    """Whole-round window: a round starts while less than ``seconds``
    have elapsed and then runs to its end, so at least one always runs."""
    return rounds_done == 0 or elapsed < seconds


def extends_window(interfered: Sequence[bool], max_rounds: int) -> bool:
    """After the ``--seconds`` window: one more round while the hypervisor
    interfered with every round so far, up to ``max_rounds`` in all."""
    return len(interfered) < max_rounds and all(interfered)


def scored_rounds(interfered: Sequence[bool], failed: Sequence[bool]) -> list[int]:
    """Indices of the rounds the latency and rate medians are taken over:
    the clean ones (all when none is clean), and every round with a
    failed op, so that a failure is never left out."""
    clean = not all(interfered)
    return [i for i, (bad, f) in enumerate(zip(interfered, failed)) if f or not (clean and bad)]


def tail_percentile(samples: Sequence[float], beyond: int = 10) -> tuple[float, float] | None:
    """(p, value): the highest whole percentile ``p`` that still has at
    least ``beyond`` samples above it, and the sample at it; None when
    fewer than ``beyond + 1`` samples exist."""
    n = len(samples)
    if n <= beyond:
        return None
    s = sorted(samples)
    # rank k (0-based) leaves n-1-k samples beyond it
    k = n - 1 - beyond
    p = math.floor(100.0 * (k + 1) / n)
    return float(p), s[k]


def per_row(total: float, rows: int) -> float:
    if rows <= 0:
        raise ValueError("rows must be positive")
    return total / rows


# -- process tree -----------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests (all CPUs)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, (utime + stime + cutime + cstime) / _CLK


class ProcTree:
    """This process and its descendants, from ``/proc``."""

    def __init__(self, root: int | None = None) -> None:
        self.root = root or os.getpid()

    def pids(self) -> list[int]:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _stat(int(d))
                if st is not None:
                    parent[int(d)] = st[0]
        out, frontier = [self.root], [self.root]
        while frontier:
            frontier = [p for p, pp in parent.items() if pp in frontier]
            out.extend(frontier)
        return out

    def cpu_s(self) -> float:
        return sum(st[1] for p in self.pids() if (st := _stat(p)) is not None)

    def python_worker_cpu_s(self) -> float:
        """CPU seconds of the Spark Python workers: every descendant that
        is not the JVM (the pyspark daemon, incl. its reaped workers, and
        the live workers)."""
        total = 0.0
        for p in self.pids():
            if p == self.root:
                continue
            try:
                with open(f"/proc/{p}/comm") as f:
                    if f.read().strip() == "java":
                        continue
            except OSError:
                continue
            st = _stat(p)
            if st is not None:
                total += st[1]
        return total

    def peak_rss_mb(self) -> float:
        total = 0
        for p in self.pids():
            try:
                with open(f"/proc/{p}/status") as f:
                    m = re.search(r"^VmHWM:\s+(\d+) kB", f.read(), re.M)
            except OSError:
                continue
            if m:
                total += int(m.group(1))
        return total / 1024.0


# -- Spark status stores ----------------------------------------------------

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)")

#: SQL metric names the Python-eval nodes (ArrowEvalPython, MapInArrow,
#: FlatMapGroupsInPandas, ...) publish
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def parse_size_total(text: str | None) -> float:
    """Bytes in a SQL size-metric string; the first size is the total
    (``'12.0 KiB'`` or ``'total (min, med, max ...)\\n12.0 KiB (...)'``)."""
    if not text:
        return 0.0
    m = _SIZE.search(text)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


#: per-op Spark counters and their units
SPARK_COUNTERS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "shuffle_write_bytes": "B", "input_bytes": "B", "spill_bytes": "B",
    "executor_cpu_s": "s", "gc_s": "s",
}


class SparkMeter:
    """Reads per-op counters after the fact; adds no listener and no
    job, so it is used in untraced runs too."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = self.sc._gateway
        self._empty_list = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        #: job group of the op in flight: the op id spans record
        self.group: str | None = None

    def set_group(self, group: str, what: str) -> None:
        self.group = group
        self.sc.setJobGroup(group, what)

    def clear_group(self) -> None:
        self.group = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def group_counters(self, group: str) -> dict[str, float]:
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        out["jobs"] = float(len(jobs))
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                for d in self._stage_attempts(sid):
                    if str(d.status().toString()) != "COMPLETE":
                        continue  # skipped stages ran no task
                    out["stages"] += 1
                    out["tasks"] += d.numCompleteTasks()
                    out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                    out["input_bytes"] += d.inputBytes()
                    out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
                    out["executor_cpu_s"] += d.executorCpuTime() / 1e9
                    out["gc_s"] += d.jvmGcTime() / 1e3
        return out

    def _stage_attempts(self, sid: int) -> Iterable:
        try:
            seq = self._store.stageData(
                sid, False, self._empty_list, False, self._no_quantiles
            )
        except Exception:  # noqa: BLE001 — stage evicted from the store
            return []
        return [seq.apply(i) for i in range(seq.size())]

    def last_execution_id(self) -> int:
        ex = self._sql.executionsList()
        n = ex.size()
        return ex.apply(n - 1).executionId() if n else -1

    def python_bytes(self, after: int, upto: int) -> tuple[float, float]:
        """(sent, returned) bytes of Python-eval nodes over the SQL
        executions with ids in ``(after, upto]``."""
        sent = returned = 0.0
        ex = self._sql.executionsList()
        for i in range(ex.size()):
            e = ex.apply(i)
            if not after < e.executionId() <= upto:
                continue
            wanted = {}
            ms = e.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                if m.name() in (PY_SENT, PY_RETURNED):
                    wanted[m.accumulatorId()] = m.name()
            if not wanted:
                continue
            # a scala Map[Long, String]: accumulator id -> rendered value
            it = self._sql.executionMetrics(e.executionId()).iterator()
            pairs = []
            while it.hasNext():
                kv = it.next()
                pairs.append((kv._1(), kv._2()))
            for acc, text in pairs:
                name = wanted.get(acc)
                if name == PY_SENT:
                    sent += parse_size_total(text)
                elif name == PY_RETURNED:
                    returned += parse_size_total(text)
        return sent, returned
