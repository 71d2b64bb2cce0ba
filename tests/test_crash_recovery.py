"""Crash consistency of every directory replace, by fault injection.

A kill is :class:`Killed`, a ``BaseException`` (so no ``except
Exception`` handler runs), raised from a patched ``Path.rename`` or
``shutil.rmtree`` on the paths of the table under test: in place of a
rename, right after the last rename, or part-way through an rmtree.
After each kill a fresh ``Warehouse`` on the same root must show the
old content or the new content — never a missing table, never a mix —
and rerunning the operation must reach the end state of a run with no
fault.
"""

from __future__ import annotations

import contextlib
import hashlib
import shutil
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable
from unittest import mock

import pytest

from bitcoin_datawarehouse_spark.operators.storage import refresh_manifest_sidecar
from bitcoin_datawarehouse_spark.pipeline import (
    JobControl,
    Loader,
    Pipeline,
    StaticSource,
    Warehouse,
    catalog,
)
from bitcoin_datawarehouse_spark.pipeline.jobs import ETL_SCHEMA, JOB_TABLE
from bitcoin_datawarehouse_spark.pipeline.matview import (
    DeltaStreamingMatView,
    Measure,
    StreamingMatView,
)
from bitcoin_datawarehouse_spark.pipeline.model_registry import ModelRegistry


class Killed(BaseException):
    """The process died here."""


def _files(d: Path) -> frozenset | None:
    """A directory's content by file name and size; None when missing."""
    if not d.exists():
        return None
    files = (p for p in d.rglob("*") if p.is_file())
    return frozenset((str(p.relative_to(d)), p.stat().st_size) for p in files)


class Faults:
    """Patches rename, rmtree and ``catalog.swap_in`` while entered.

    Counts the renames and rmtrees of paths whose name starts with
    ``prefix`` and kills at ``cell``: ``("rename", i, "before")`` in
    place of the i-th rename, ``("rename", i, "after")`` right after it,
    ``("rmtree", j, "inside")`` after deleting one file of the j-th
    tree.  ``publishes`` records each matching swap's target with its
    content before and the content being published."""

    def __init__(self, prefix: str, cell: tuple | None = None) -> None:
        self.prefix, self.cell = prefix, cell
        self.seen = {"rename": 0, "rmtree": 0}
        self.fired = False
        self.publishes: list[tuple[Path, Any, Any]] = []
        self._stack = contextlib.ExitStack()

    def _mine(self, path) -> bool:
        return Path(path).name.startswith(self.prefix)

    def _tick(self, op: str) -> str | None:
        i = self.seen[op]
        self.seen[op] += 1
        if self.cell is not None and not self.fired and self.cell[:2] == (op, i):
            self.fired = True
            return self.cell[2]
        return None

    def __enter__(self) -> "Faults":
        rename, rmtree, swap_in = Path.rename, shutil.rmtree, catalog.swap_in

        def on_rename(path, target):
            when = self._tick("rename") if self._mine(path) else None
            if when == "before":
                raise Killed(f"before rename of {path}")
            out = rename(path, target)
            if when == "after":
                raise Killed(f"after rename of {path}")
            return out

        def on_rmtree(path, *args, **kwargs):
            if self._mine(path) and self._tick("rmtree") == "inside":
                next(p for p in sorted(Path(path).rglob("*")) if p.is_file()).unlink()
                raise Killed(f"inside rmtree of {path}")
            return rmtree(path, *args, **kwargs)

        def on_swap_in(tmp, final, *args, **kwargs):
            if self._mine(final):
                self.publishes.append((final, _files(final), _files(tmp)))
            return swap_in(tmp, final, *args, **kwargs)

        for target, name, new in (
            (Path, "rename", on_rename),
            (shutil, "rmtree", on_rmtree),
            (catalog, "swap_in", on_swap_in),
        ):
            self._stack.enter_context(mock.patch.object(target, name, new))
        return self

    def __exit__(self, *exc) -> None:
        self._stack.close()


@dataclass
class Scenario:
    """One write path: ``setup`` builds the old state, ``op`` is the
    faulted operation, ``view`` what a reader sees, ``end`` the state a
    finished run must reach (default: ``view``).  ``op`` and ``view``
    take ``(spark, wh)``.  A non-idempotent op is rerun only when the
    kill left the old state visible."""

    prefix: str
    renames: int
    rmtrees: int
    setup: Callable
    op: Callable
    view: Callable
    end: Callable | None = None
    keep: int = 0
    idempotent: bool = True


def _ids(spark, ids, v=0.0):
    return spark.createDataFrame([(i, float(i) + v) for i in ids], "id long, v double")


def _sorted(df):
    return tuple(sorted(tuple(r) for r in df.collect()))


def _rows(wh, schema, table):
    return _sorted(wh.read(schema, table))


# -- write_atomic through a merge, and rollback ------------------------------
def _merge_setup(spark, wh, table="crash_t", versions=1):
    for k in range(versions):
        Loader(wh, "bitcoin", table).load_full_refresh(_ids(spark, range(10), v=k))


def _merge_op(table):
    return lambda spark, wh: Loader(wh, "bitcoin", table).load_incremental(
        _ids(spark, range(8, 12), v=0.5), ["id"]
    )


def _table_view(table):
    return lambda spark, wh: _rows(wh, "bitcoin", table)


def _table_end(table):
    def end(spark, wh):
        return _rows(wh, "bitcoin", table), len(wh.list_versions("bitcoin", table))

    return end


# -- export_tar_shards -------------------------------------------------------
def _tar_export(tag):
    def export(spark, wh):
        docs = spark.createDataFrame(
            [(i, bytearray(f"doc{i}-{tag}".encode()), tag) for i in range(12)],
            "doc_id long, payload binary, source string",
        )
        wh.export_tar_shards(docs, "exports", "crash_tar", n_shards=3, meta_cols=["source"])

    return export


def _tar_view(spark, wh):
    d = wh.table_path("exports", "crash_tar")
    return tuple(sorted((p.name, hashlib.md5(p.read_bytes()).hexdigest()) for p in d.glob("*")))


# -- refresh_manifest_sidecar --------------------------------------------------
def _zt(wh) -> Path:
    return wh.root / "zt"


def _manifest_setup(spark, wh):
    _ids(spark, range(5)).coalesce(1).write.parquet(str(_zt(wh) / "data"))
    refresh_manifest_sidecar(spark, str(_zt(wh)), ["v"])
    _ids(spark, range(5, 9)).coalesce(1).write.mode("append").parquet(str(_zt(wh) / "data"))


def _manifest_view(spark, wh):
    """The manifest's data-file names as its readers see it: every
    reader of a missing sidecar goes through ``refresh_manifest_sidecar``,
    whose first step is the catalog's recovery step."""
    mdir = _zt(wh) / "manifest"
    catalog.restore_missing(mdir)
    return tuple(sorted(Path(r[0]).name for r in spark.read.parquet(str(mdir)).collect()))


# -- the ledger flushes of Pipeline.run ----------------------------------------
_SYNC_ROWS = [{"id": i, "v": float(i)} for i in range(10)]


def _pipeline(spark, wh, n):
    """Job ``j{q}`` syncs the first ``n + q`` rows into ``p{q}``."""

    def rows(q):
        return lambda p: [r for r in _SYNC_ROWS[: n + q] if p is None or r["id"] > int(p)]

    return Pipeline(spark, wh, StaticSource({q: rows(q) for q in (0, 1)}))


def _pipeline_setup(spark, wh):
    JobControl(spark, wh).seed(
        [
            {"job_name": f"j{q}", "query_id": q, "target_table": f"p{q}", "p_key": "id",
             "status": 0, "active": 1, "incremental_column": "id"}
            for q in (0, 1)
        ]
    )
    assert all(r.ok for r in _pipeline(spark, wh, 5).run())


def _pipeline_view(spark, wh):
    """The targets' rows without the load's audit timestamp."""
    return tuple(_sorted(wh.read("bitcoin", f"p{q}").select("id", "v")) for q in (0, 1))


def _pipeline_end(spark, wh):
    cols = ["job_name", "status", "watermark", "error_message"]
    return _pipeline_view(spark, wh), _sorted(wh.read(ETL_SCHEMA, JOB_TABLE).select(*cols))


# -- ModelRegistry.publish -----------------------------------------------------
def _publish(marker):
    def publish(spark, wh):
        counts = spark.createDataFrame(
            [(f"k{i}", marker) for i in range(5)], 
            "k string, marker long"
        )
        consts = spark.createDataFrame([(marker,)], "marker long")
        ModelRegistry(wh).publish("m", {"counts": counts, "consts": consts})

    return publish


def _model_view(spark, wh):
    model = ModelRegistry(wh).resolve(spark, "m")
    return tuple(sorted({r["marker"] for part in model.parts.values() for r in part.collect()}))


# -- StreamingMatView.absorb and DeltaStreamingMatView.compact -----------------
_MEASURES = [Measure("total", "sum", "v"), Measure("n", "count", None)]


def _batch(spark, k):
    return spark.createDataFrame(
        [(f"g{i % 3}", 10 * k + i, float(k + i)) for i in range(6)], "g string, id long, v double"
    )


def _live(wh):
    return StreamingMatView(wh, "mv", "live", ["g"], _MEASURES)


def _clog(wh):
    return DeltaStreamingMatView(wh, "mv", "clog", ["g"], _MEASURES)


def _absorb_setup(spark, wh):
    for k in (0, 1):
        assert _live(wh).absorb(_batch(spark, k), batch_id=k)


def _clog_setup(spark, wh):
    for k in (0, 1):
        assert _clog(wh).absorb(_batch(spark, k), batch_id=k)
    assert _clog(wh).compact(spark) == 2
    assert _clog(wh).absorb(_batch(spark, 2), batch_id=2)


def _view_rows(view):
    return lambda spark, wh: _sorted(view(wh).read(spark))


SCENARIOS = {
    "write_atomic_keep0": Scenario(
        "crash_t", 2, 1, _merge_setup, _merge_op("crash_t"), _table_view("crash_t"),
        end=_table_end("crash_t"),
    ),
    "write_atomic_keep2": Scenario(
        "crash_k", 2, 1, lambda s, wh: _merge_setup(s, wh, "crash_k", 3), _merge_op("crash_k"),
        _table_view("crash_k"), end=_table_end("crash_k"), keep=2,
    ),
    "rollback": Scenario(
        "crash_r", 2, 0, lambda s, wh: _merge_setup(s, wh, "crash_r", 3),
        lambda s, wh: wh.rollback("bitcoin", "crash_r"), _table_view("crash_r"),
        end=_table_end("crash_r"), keep=2, idempotent=False,
    ),
    "export_tar_shards": Scenario("crash_tar", 2, 1, _tar_export("a"), _tar_export("b"), _tar_view),
    "refresh_manifest_sidecar": Scenario(
        "manifest", 2, 1, _manifest_setup,
        lambda s, wh: refresh_manifest_sidecar(s, str(_zt(wh)), ["v"]), _manifest_view,
    ),
    "pipeline_ledger_flush": Scenario(
        JOB_TABLE, 4, 2, _pipeline_setup, lambda s, wh: _pipeline(s, wh, 8).run(),
        _pipeline_view, end=_pipeline_end,
    ),
    "model_pointer_flip": Scenario(
        "m__ptr", 2, 1, lambda s, wh: [_publish(k)(s, wh) for k in (1, 2)], _publish(3),
        _model_view,
    ),
    "streaming_absorb": Scenario(
        "live", 3, 2, _absorb_setup, lambda s, wh: _live(wh).absorb(_batch(s, 2), batch_id=2),
        _view_rows(_live),
        end=lambda s, wh: (_view_rows(_live)(s, wh), _live(wh)._pointer(s)[1]),
    ),
    "delta_compact": Scenario(
        # the rows a reader sees stay the same; the pointer it reads
        # them through is the old one (a delta pending) or the new one
        "clog", 3, 3, _clog_setup, lambda s, wh: _clog(wh).compact(s),
        lambda s, wh: (_view_rows(_clog)(s, wh), _clog(wh).pending_deltas(s)),
    ),
}


def _cells():
    for name, sc in SCENARIOS.items():
        kills = [("rename", i, "before") for i in range(sc.renames)]
        kills.append(("rename", sc.renames - 1, "after"))
        kills += [("rmtree", j, "inside") for j in range(sc.rmtrees)]
        for cell in kills:
            yield pytest.param(name, cell, id=f"{name}-{cell[0]}{cell[1]}-{cell[2]}")


@pytest.fixture(scope="module")
def baselines(spark, tmp_path_factory):
    """Per scenario, built once: a template root holding the old state,
    and the old view, new view and end state of a run with no fault."""
    built: dict[str, tuple] = {}

    def get(name):
        if name not in built:
            sc = SCENARIOS[name]
            template = tmp_path_factory.mktemp(f"{name}_template")
            sc.setup(spark, Warehouse(spark, str(template), sc.keep))
            root = tmp_path_factory.mktemp(f"{name}_clean")
            shutil.copytree(template, root, dirs_exist_ok=True)
            wh = Warehouse(spark, str(root), sc.keep)
            old = sc.view(spark, wh)
            with Faults(sc.prefix) as counted:
                sc.op(spark, wh)
            # the cells are built from the declared counts: a clean run
            # must make exactly that many renames and rmtrees
            assert counted.seen == {"rename": sc.renames, "rmtree": sc.rmtrees}, counted.seen
            new = sc.view(spark, wh)
            assert new != old
            built[name] = template, old, new, (sc.end or sc.view)(spark, wh)
        return built[name]

    return get


@pytest.mark.parametrize("name, cell", list(_cells()))
def test_killed_write_leaves_old_or_new_and_rerun_converges(spark, tmp_path, baselines, name, cell):
    sc = SCENARIOS[name]
    template, old, new, end = baselines(name)
    root = tmp_path / "wh"
    shutil.copytree(template, root)

    with pytest.raises(Killed), Faults(sc.prefix, cell) as faults:
        sc.op(spark, Warehouse(spark, str(root), sc.keep))
    assert faults.fired

    wh = Warehouse(spark, str(root), sc.keep)
    final, before, published = faults.publishes[-1]
    assert _files(final) in (before, published), "the faulted table is missing or mixed"
    seen = sc.view(spark, wh)
    assert seen in (old, new)

    if sc.idempotent or seen == old:
        sc.op(spark, wh)
    assert (sc.end or sc.view)(spark, wh) == end


def test_merge_killed_between_renames_keeps_history(spark, tmp_path):
    """A 10-row table killed between the two renames of a merge of ids
    8..11: the reopened warehouse has the 10 rows back, and the rerun
    merge ends with ids 0..11 (a lost live directory would make the
    rerun create the table from the 4 batch rows)."""
    root = str(tmp_path / "wh")
    _merge_setup(spark, Warehouse(spark, root))
    with pytest.raises(Killed), Faults("crash_t", ("rename", 1, "before")):
        _merge_op("crash_t")(spark, Warehouse(spark, root))
    wh = Warehouse(spark, root)
    assert [r[0] for r in _rows(wh, "bitcoin", "crash_t")] == list(range(10))
    _merge_op("crash_t")(spark, wh)
    assert [r[0] for r in _rows(wh, "bitcoin", "crash_t")] == list(range(12))


def test_failed_second_rename_leaves_old_table_live(spark, tmp_path):
    """An OSError from the rename that brings the new table in undoes
    the rename that moved the old one aside: the same handle still
    reads the old table, with no snapshot added."""
    wh = Warehouse(spark, str(tmp_path / "wh"), keep_versions=2)
    _merge_setup(spark, wh, "crash_o")
    old = _rows(wh, "bitcoin", "crash_o")
    rename = Path.rename

    def failing(path, target):
        if ".__tmp_" in path.name:
            raise OSError("rename failed")
        return rename(path, target)

    with mock.patch.object(Path, "rename", failing), pytest.raises(OSError):
        _merge_op("crash_o")(spark, wh)
    assert _rows(wh, "bitcoin", "crash_o") == old
    assert wh.list_versions("bitcoin", "crash_o") == []


def test_drop_table_stays_dropped_after_reopen(spark, tmp_path):
    """drop_table deletes the snapshots too: the recovery step on open
    would otherwise bring the dropped table back."""
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root, keep_versions=2)
    _merge_setup(spark, wh, "crash_d", versions=2)
    assert wh.list_versions("bitcoin", "crash_d")
    wh.drop_table("bitcoin", "crash_d")
    wh = Warehouse(spark, root, keep_versions=2)
    assert not wh.table_exists("bitcoin", "crash_d")
    assert wh.list_versions("bitcoin", "crash_d") == []
    with pytest.raises(FileNotFoundError):
        wh.rollback("bitcoin", "crash_d")
