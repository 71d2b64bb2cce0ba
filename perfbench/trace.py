"""Span recorder that times the program's layers from outside.

``Tracer.install`` swaps wrappers onto the public functions each layer
exposes, on the binding the caller actually uses (``pipeline.jobs``
imports ``fetch_as_df`` by name, operator modules import
``cache_tracked`` by name, so those module attributes are wrapped, not
the defining module's).  ``restore`` puts every original back, so the
untraced windows run the program untouched.  Spans stay in memory and
are written out once, at exit.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


def _dir_bytes(path: Path) -> tuple[int, int]:
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                pass
    return size, files


class Tracer:
    def __init__(self, op_id=lambda: None) -> None:
        """``op_id()`` names the op in flight when a span begins."""
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self.op_id = op_id
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> int:
        st = self._stack()
        with self._lock:
            self.spans.append(Span(name, time.perf_counter(), 0.0,
                                   st[-1] if st else None, self.op_id()))
            idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + n

    # -- wrapping ----------------------------------------------------------
    def wrap(self, owner: object, attr: str, span: str, after=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper; ``after(result,
        args)`` records counts once the call returns."""
        orig = getattr(owner, attr)
        if getattr(orig, "__perfbench_wrapped__", False):
            return
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            idx = tracer.begin(span)
            try:
                res = orig(*args, **kwargs)
            finally:
                tracer.end(idx)
                tracer.count(f"{span}.calls")
            if after is not None:
                after(res, args)
            return res

        wrapper.__perfbench_wrapped__ = True
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def install(self) -> None:
        """Wrap every layer boundary the benchmark reports on."""
        from bitcoin_datawarehouse_spark.functions import cachereg
        from bitcoin_datawarehouse_spark.pipeline import catalog, jobs, loader, source, transform

        self.wrap(jobs.Pipeline, "run", "pipeline.run")
        self.wrap(jobs.Pipeline, "run_job", "pipeline.job")
        for m in ("tables_to_sync", "start_job", "end_job", "fail_job"):
            self.wrap(jobs.JobControl, m, "jobs.control")
        self.wrap(jobs, "fetch_as_df", "source.fetch")
        self.wrap(source.FileReplaySource, "fetch", "source.read",
                  after=lambda rows, _a: self.count("source.rows", len(rows)))
        self.wrap(transform.TableSpec, "apply", "transform.apply")
        self.wrap(loader.Loader, "load_incremental", "loader.merge")
        self.wrap(loader.Loader, "load_full_refresh", "loader.merge")
        self.wrap(loader.Loader, "get_max_value", "loader.probe")
        self.wrap(loader.Loader, "get_record_count", "loader.probe")

        def written(_res, args):
            wh, _df, schema, table = args[:4]
            size, files = _dir_bytes(wh.table_path(schema, table))
            self.count("catalog.bytes_written", size)
            self.count("catalog.files_written", files)

        self.wrap(catalog.Warehouse, "write_atomic", "catalog.write", after=written)
        # every module holding its own ``cache_tracked`` binding
        orig = cachereg.cache_tracked
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name.startswith("bitcoin_datawarehouse_spark") and (
                getattr(mod, "cache_tracked", None) is orig
            ):
                self.wrap(mod, "cache_tracked", "cachereg.cache")

    # -- analysis ----------------------------------------------------------
    def _child_cover(self) -> list[float]:
        """Per span: the part of its interval its children cover."""
        kids: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(i)
        return [
            covered([(self.spans[k].start, self.spans[k].end) for k in kids.get(i, [])],
                    s.start, s.end)
            for i, s in enumerate(self.spans)
        ]

    def self_times(self) -> dict[str, float]:
        """Per-span-name self time: duration minus the union of the
        intervals its children cover."""
        out: dict[str, float] = {}
        for s, cov in zip(self.spans, self._child_cover()):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - cov
        return out

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def child_coverage(self, name: str) -> float:
        """Share of ``name`` spans' wall that their direct children cover."""
        wall = cov = 0.0
        for s, c in zip(self.spans, self._child_cover()):
            if s.name == name:
                wall += s.end - s.start
                cov += c
        return cov / wall if wall else 0.0

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({
            "spans": [asdict(s) for s in self.spans],
            "counts": self.counts,
        }))


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
