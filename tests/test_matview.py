"""Materialized-aggregate-view maintenance (pipeline/matview.py).

The driver-gated queries in operators/matview_semantics.py prove the
maintenance ALGEBRA against DuckDB; these tests pin the STATEFUL loop
— persisted state, atomic swaps, the loader-shaped sync entry points —
against a temp warehouse, always by comparing the incrementally
maintained view to a from-scratch rebuild over the same final base.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bitcoin_datawarehouse_spark.pipeline import Warehouse
from bitcoin_datawarehouse_spark.pipeline.matview import (
    MaterializedAggView,
    Measure,
)

MEASURES = [
    Measure("total", "sum", "v"),
    Measure("n", "count", None),
    Measure("n_v", "count", "v"),
    Measure("vmin", "min", "v"),
    Measure("vmax", "max", "v"),
    Measure("vavg", "avg", "v"),
]


def _mk(spark, rows):
    return spark.createDataFrame(rows, "g string, id long, v double")


def _view(wh, table):
    return MaterializedAggView(wh, "mv", table, ["g"], MEASURES)


def _snap(view):
    return sorted(tuple(r) for r in view.read().collect())


def _expected(wh, spark, base_df, tag):
    ref = _view(wh, f"expected_{tag}")
    ref.full_refresh(base_df)
    return _snap(ref)


def test_append_batches_equal_full_recompute(spark, tmp_warehouse):
    wh = Warehouse(spark, tmp_warehouse)
    v = _view(wh, "rollup")
    b1 = _mk(spark, [("a", 1, 10.5), ("a", 2, 2.25), ("b", 3, 7.0)])
    b2 = _mk(spark, [("b", 4, -1.5), ("c", 5, 100.0)])  # new group c
    b3 = _mk(spark, [("a", 6, 0.125), ("c", 7, 3.5), ("d", 8, 9.0)])
    v.apply_append(b1)
    v.apply_append(b2)
    v.apply_append(b3)
    full = b1.unionByName(b2).unionByName(b3)
    assert _snap(v) == _expected(wh, spark, full, "append")


def test_upsert_lowers_max_and_migrates_group(spark, tmp_warehouse):
    wh = Warehouse(spark, tmp_warehouse)
    v = _view(wh, "rollup")
    base = _mk(
        spark,
        [("a", 1, 10.0), ("a", 2, 99.0), ("b", 3, 5.0), ("b", 4, 7.0),
         ("c", 5, 1.0)],
    )
    v.full_refresh(base)
    # id=2 keeps group 'a' but loses its max; id=3 MIGRATES b -> c
    batch = _mk(spark, [("a", 2, 1.0), ("c", 3, 50.0)])
    base_after = base.join(batch.select("id"), "id", "left_anti").unionByName(
        batch
    )
    v.sync_upsert(base, base_after, batch, ["id"])
    snap = _snap(v)
    assert snap == _expected(wh, spark, base_after, "upsert")
    by_g = {row[0]: row for row in snap}
    assert by_g["a"][5] == 10.0  # vmax retracted from 99 to 10
    assert by_g["b"][2] == 1  # group b lost the migrated row
    assert by_g["c"][2] == 2  # and group c gained it


def test_delete_drops_emptied_group(spark, tmp_warehouse):
    wh = Warehouse(spark, tmp_warehouse)
    v = _view(wh, "rollup")
    base = _mk(
        spark,
        [("a", 1, 10.0), ("a", 2, 4.0), ("c", 3, 1.0), ("c", 4, 2.0)],
    )
    v.full_refresh(base)
    pred = (F.col("g") == "c") | (F.col("id") == 1)
    deleted = base.filter(pred)
    base_after = base.filter(~pred)
    v.sync_delete(base_after, deleted)
    snap = _snap(v)
    assert snap == _expected(wh, spark, base_after, "delete")
    assert [r[0] for r in snap] == ["a"]  # group c vanished, no zombie row


def test_null_measures_match_direct_aggregate(spark, tmp_warehouse):
    wh = Warehouse(spark, tmp_warehouse)
    v = _view(wh, "rollup")
    b1 = _mk(spark, [("a", 1, None), ("b", 2, 3.0)])
    b2 = _mk(spark, [("a", 3, None), ("b", 4, None)])
    v.apply_append(b1)
    v.apply_append(b2)
    snap = _snap(v)
    assert snap == _expected(wh, spark, b1.unionByName(b2), "nulls")
    by_g = {row[0]: row for row in snap}
    # all-null group: SUM/MIN/MAX/AVG stay NULL (not zero), COUNT(*)
    # counts rows, COUNT(v) doesn't
    assert by_g["a"][1] is None and by_g["a"][4] is None
    assert by_g["a"][2] == 2 and by_g["a"][3] == 0
    # mixed group: the null drops out of every aggregate
    assert by_g["b"] == ("b", 3.0, 2, 1, 3.0, 3.0, 3.0)


def test_append_plan_never_references_base(spark, tmp_warehouse):
    """The self-maintainability claim as a plan shape: absorbing a
    batch builds on the persisted STATE + the batch only — the base
    table's storage path must not appear anywhere in the plan."""
    wh = Warehouse(spark, tmp_warehouse)
    base = _mk(spark, [("a", 1, 10.0), ("b", 2, 5.0)])
    wh.write_atomic(base, "facts", "base_tbl")
    v = _view(wh, "rollup")
    v.full_refresh(wh.read("facts", "base_tbl"))
    batch = _mk(spark, [("a", 3, 2.0)])
    from bitcoin_datawarehouse_spark.pipeline.matview import combine_states

    combined = combine_states(
        v.state(), v._aggregate(batch), v.keys, v.measures
    )
    plan = combined._jdf.queryExecution().executedPlan().toString()
    assert "base_tbl" not in plan
    # and the combine is correct, not just base-free
    v.apply_append(batch)
    assert _snap(v) == _expected(
        wh, spark, base.unionByName(batch), "planfree"
    )


def test_view_swap_is_versioned_and_rollbackable(spark, tmp_path):
    """State swaps ride write_atomic, so the view inherits snapshot /
    rollback — a bad batch is one rollback away, same as any table."""
    wh = Warehouse(spark, str(tmp_path / "vwh"), keep_versions=2)
    v = _view(wh, "rollup")
    good = _mk(spark, [("a", 1, 1.0)])
    v.apply_append(good)
    before = _snap(v)
    v.apply_append(_mk(spark, [("a", 2, 1e9)]))  # the "bad batch"
    assert _snap(v) != before
    wh.rollback("mv", "rollup")
    assert _snap(v) == before


def test_streaming_matview_drains_and_is_exactly_once(spark, tmp_path):
    """Three micro-batches fold into the view; the result equals the
    batch rebuild; a replayed trigger (same batch_id) is a no-op; a
    crash between the generation write and the pointer flip replays
    cleanly (the orphan generation is overwritten, never counted)."""
    from bitcoin_datawarehouse_spark.pipeline.matview import StreamingMatView
    from bitcoin_datawarehouse_spark.streaming.jobs import (
        run_stream_to_completion,
    )
    from bitcoin_datawarehouse_spark.streaming.matview_stream import (
        run_matview_stream,
    )

    rows = [("a", 1, 10.5), ("b", 2, 2.0), ("a", 3, 4.25),
            ("c", 4, -1.0), ("b", 5, 8.0), ("c", 6, 0.5)]
    all_df = _mk(spark, rows)
    src = tmp_path / "src"
    for i in range(3):
        all_df.filter(F.col("id") % 3 == i).repartition(1).write.parquet(
            str(src / f"f{i}")
        )
    wh = Warehouse(spark, str(tmp_path / "swh"))
    sv = StreamingMatView(wh, "mv", "live", ["g"], MEASURES)
    stream = (
        spark.readStream.schema("g string, id long, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    run_stream_to_completion(
        run_matview_stream(stream, sv, str(tmp_path / "ck"))
    )
    got = sorted(tuple(r) for r in sv.read(spark).collect())
    assert got == _expected(wh, spark, all_df, "stream")

    # replayed trigger: an already-absorbed batch_id must be skipped
    assert sv.absorb(_mk(spark, [("a", 99, 1000.0)]), batch_id=0) is False
    assert sorted(tuple(r) for r in sv.read(spark).collect()) == got

    # crash window: a generation written WITHOUT its pointer flip is
    # invisible — the replay overwrites it and counts the batch once
    ptr = sv._pointer(spark)
    orphan = sv._gen(ptr[0] + 1)
    wh.write_atomic(_mk(spark, [("zzz", 0, 0.0)]), "mv", orphan)
    extra = _mk(spark, [("d", 7, 7.0)])
    assert sv.absorb(extra, batch_id=ptr[1] + 1) is True
    got2 = sorted(tuple(r) for r in sv.read(spark).collect())
    assert got2 == _expected(
        wh, spark, all_df.unionByName(extra), "stream2"
    )


def test_sync_views_through_merge_wiring(spark, tmp_warehouse):
    """The production wiring: a loader merge keeps attached views
    consistent — including the replaced rows' OLD groups, whose
    touched set must be pinned before the merge swaps the base away."""
    from bitcoin_datawarehouse_spark.pipeline import Loader
    from bitcoin_datawarehouse_spark.pipeline.matview import (
        sync_views_through_merge,
    )

    wh = Warehouse(spark, tmp_warehouse)
    loader = Loader(wh, "facts", "t")
    v = _view(wh, "rollup")
    # first sync: no base yet — views bootstrap from the batch alone
    b1 = _mk(spark, [("a", 1, 10.0), ("a", 2, 99.0), ("b", 3, 5.0)])
    sync_views_through_merge(loader, [v], b1, ["id"])
    assert _snap(v) == _expected(wh, spark, wh.read("facts", "t"), "w1")
    # upsert: id=2 migrates a -> c AND drops the old group's max
    b2 = _mk(spark, [("c", 2, 1.0), ("b", 4, 8.0)])
    sync_views_through_merge(loader, [v], b2, ["id"])
    base_after = wh.read("facts", "t")
    assert base_after.count() == 4
    snap = _snap(v)
    assert snap == _expected(wh, spark, base_after, "w2")
    by_g = {row[0]: row for row in snap}
    assert by_g["a"][5] == 10.0  # old group's max recomputed w/o id=2
    assert by_g["c"][2] == 1  # migrated row counted in its new group


def test_bucketed_state_matches_unbucketed_and_prunes_io(spark, tmp_warehouse):
    """``state_buckets``: the same append/upsert/delete sequence lands
    on identical exposed rows as the unbucketed view, and an append
    that touches a subset of buckets leaves every other bucket's files
    BYTE-identical (the O(touched buckets) claim, physically)."""
    import hashlib

    wh = Warehouse(spark, tmp_warehouse)
    flat = _view(wh, "flat")
    bkt = MaterializedAggView(
        wh, "mv", "bucketed", ["g"], MEASURES, state_buckets=8
    )
    b1 = _mk(spark, [(f"g{i}", i, float(i)) for i in range(16)])
    for v in (flat, bkt):
        v.apply_append(b1)
    assert _snap(bkt) == _snap(flat)

    # fingerprint every bucket file, then append ONE group's rows
    root = wh.table_path("mv", "bucketed")
    before = {
        str(p.relative_to(root)): hashlib.md5(p.read_bytes()).hexdigest()
        for p in root.rglob("*.parquet")
    }
    b2 = _mk(spark, [("g3", 100, 50.0), ("g3", 101, -2.0)])
    for v in (flat, bkt):
        v.apply_append(b2)
    assert _snap(bkt) == _snap(flat)
    after = {
        str(p.relative_to(root)): hashlib.md5(p.read_bytes()).hexdigest()
        for p in root.rglob("*.parquet")
    }
    untouched_same = [
        f for f in before
        if f in after and before[f] == after[f]
    ]
    # >=6 of 8 bucket dirs hold no g3 — their files must be untouched
    assert len(untouched_same) >= 6, (before, after)

    # upsert with migration + delete, still equivalent
    base = b1.unionByName(b2)
    batch = _mk(spark, [("g3", 100, 1.0), ("zz", 5, 9.0)])
    base_after = base.join(batch.select("id"), "id", "left_anti").unionByName(
        batch
    )
    for v in (flat, bkt):
        v.sync_upsert(base, base_after, batch, ["id"])
    assert _snap(bkt) == _snap(flat)
    pred = F.col("g") == "g3"
    deleted = base_after.filter(pred)
    final = base_after.filter(~pred)
    for v in (flat, bkt):
        v.sync_delete(final, deleted)
    assert _snap(bkt) == _snap(flat)
    assert _snap(bkt) == _expected(wh, spark, final, "bktfinal")
    assert "g3" not in {r[0] for r in _snap(bkt)}  # emptied group dropped


def test_key_partitioned_state_is_day_local(spark, tmp_warehouse):
    """``state_partition_key``: the continuous-aggregate layout — a
    time-grain view fed by day-aligned batches rewrites ONLY the
    arriving day's directory; prior days stay byte-identical; results
    match the flat view; deleting a whole day drops its directory."""
    import hashlib

    wh = Warehouse(spark, tmp_warehouse)
    keys = ["d", "g"]

    def mkd(rows):
        return spark.createDataFrame(
            rows, "d string, g string, id long, v double"
        )

    flat = MaterializedAggView(wh, "mv", "flat", keys, MEASURES)
    part = MaterializedAggView(
        wh, "mv", "byday", keys, MEASURES, state_partition_key="d"
    )
    day1 = mkd([("d1", "a", 1, 1.0), ("d1", "b", 2, 2.0)])
    day2 = mkd([("d2", "a", 3, 3.0), ("d2", "c", 4, 4.0)])
    for v in (flat, part):
        v.apply_append(day1)
    root = wh.table_path("mv", "byday")
    before = {
        str(p.relative_to(root)): hashlib.md5(p.read_bytes()).hexdigest()
        for p in root.rglob("*.parquet")
    }
    for v in (flat, part):
        v.apply_append(day2)
    after = {
        str(p.relative_to(root)): hashlib.md5(p.read_bytes()).hexdigest()
        for p in root.rglob("*.parquet")
    }
    assert all(f.startswith("d=d1") for f in before)
    assert all(before[f] == after[f] for f in before), (before, after)
    snap = sorted(tuple(r) for r in part.read().collect())
    assert snap == sorted(tuple(r) for r in flat.read().collect())

    # retention delete: day d1 vanishes — its directory must too
    base = day1.unionByName(day2)
    deleted = base.filter(F.col("d") == "d1")
    final = base.filter(F.col("d") != "d1")
    for v in (flat, part):
        v.sync_delete(final, deleted)
    assert sorted(tuple(r) for r in part.read().collect()) == sorted(
        tuple(r) for r in flat.read().collect()
    )
    assert not list(root.glob("d=d1")), "emptied day dir must be dropped"

    with pytest.raises(ValueError):
        MaterializedAggView(
            wh, "mv", "x", keys, MEASURES,
            state_buckets=4, state_partition_key="d",
        )
    with pytest.raises(ValueError):
        MaterializedAggView(
            wh, "mv", "x", keys, MEASURES, state_partition_key="nope"
        )


def test_measure_validation():
    with pytest.raises(ValueError):
        Measure("x", "median", "v")
    with pytest.raises(ValueError):
        Measure("x", "sum", None)


def test_apply_changes_bootstrap_is_full_refresh(spark, tmp_warehouse):
    """apply_changes on a never-refreshed view must not write only the
    touched groups as the whole state (that would silently drop every
    other group forever) — it bootstraps with a full refresh."""
    wh = Warehouse(spark, tmp_warehouse)
    v = _view(wh, "rollup")
    base = _mk(spark, [("a", 1, 1.0), ("b", 2, 2.0), ("c", 3, 3.0)])
    deleted = base.filter(F.col("g") == "c")
    base_after = base.filter(F.col("g") != "c")
    v.sync_delete(base_after, deleted)  # view didn't exist yet
    snap = _snap(v)
    assert snap == _expected(wh, spark, base_after, "boot")
    assert {r[0] for r in snap} == {"a", "b"}  # untouched groups kept


def test_streaming_vacuum_ignores_sibling_tables(spark, tmp_path):
    """The generation vacuum parses '{table}__g<k>' suffixes; a sibling
    table whose name merely starts with '{table}__g' (e.g.
    'live__graph') must be skipped, not crash the trigger."""
    from bitcoin_datawarehouse_spark.pipeline.matview import StreamingMatView

    wh = Warehouse(spark, str(tmp_path / "swh"))
    wh.write_atomic(_mk(spark, [("x", 1, 1.0)]), "mv", "live__graph")
    sv = StreamingMatView(wh, "mv", "live", ["g"], MEASURES, keep_back=0)
    assert sv.absorb(_mk(spark, [("a", 1, 1.0)]), batch_id=0) is True
    assert sv.absorb(_mk(spark, [("a", 2, 1.0)]), batch_id=1) is True
    assert "live__graph" in wh.list_tables("mv")  # sibling untouched


def test_sync_views_through_merge_follows_partitioned_base(
    spark, tmp_warehouse
):
    """r11 ADVICE: a base seeded Hive-partitioned made the flat
    existence probe return False, silently skipping the replaced-rows
    pass — views went stale with no error.  The sync now reads the
    base's layout from disk and maintains the views through the
    touched-partition merge."""
    from bitcoin_datawarehouse_spark.pipeline import Loader
    from bitcoin_datawarehouse_spark.pipeline.matview import (
        sync_views_through_merge,
    )

    wh = Warehouse(spark, tmp_warehouse)
    loader = Loader(wh, "facts", "t")
    loader.load_incremental(
        _mk(spark, [("a", 1, 10.0), ("b", 2, 5.0)]), ["id"],
        partition_col="g",
    )
    v = _view(wh, "rollup")
    v.full_refresh(wh.read("facts", "t"))
    sync_views_through_merge(
        loader, [v], _mk(spark, [("a", 1, 7.0), ("a", 3, 2.0)]), ["id"]
    )
    assert wh.partition_cols("facts", "t") == ["g"]
    assert wh.read("facts", "t").count() == 3
    assert _snap(v) == _expected(wh, spark, wh.read("facts", "t"), "pbase")


# --- round 12: auto-sized buckets, partition-pruned recompute, shared pass


def test_auto_state_buckets_law():
    """√G rounded to a power of two, clamped to [8, 4096] — the r11
    probe's failure case (15M groups on fixed-256) must land on the
    4096 ceiling."""
    from bitcoin_datawarehouse_spark.pipeline.matview import (
        AUTO_BUCKETS_MAX,
        AUTO_BUCKETS_MIN,
        auto_state_buckets,
    )

    assert auto_state_buckets(0) == AUTO_BUCKETS_MIN
    assert auto_state_buckets(64) == AUTO_BUCKETS_MIN
    assert auto_state_buckets(10_000) == 128
    assert auto_state_buckets(15_000_000) == 4096
    assert auto_state_buckets(10**12) == AUTO_BUCKETS_MAX
    for g in (100, 10**4, 10**6, 10**8):
        n = auto_state_buckets(g)
        assert n & (n - 1) == 0
        assert AUTO_BUCKETS_MIN <= n <= AUTO_BUCKETS_MAX


def test_auto_bucketed_view_matches_flat_and_persists_sidecar(
    spark, tmp_warehouse
):
    """state_buckets='auto': sized √G at bootstrap, the choice
    persists in a sidecar, and a REOPENED view object resolves the
    same layout (a different N would hash groups into the wrong
    directories and every splice would misroute)."""
    wh = Warehouse(spark, tmp_warehouse)
    flat = _view(wh, "flat_a")
    auto = MaterializedAggView(
        wh, "mv", "autob", ["g"], MEASURES, state_buckets="auto"
    )
    b1 = _mk(spark, [(f"g{i}", i, float(i)) for i in range(300)])
    for v in (flat, auto):
        v.apply_append(b1)
    assert auto.state_buckets == 16  # sqrt(300) -> 2^4
    sidecar = wh.table_path("mv", "autob").parent / "autob.__buckets"
    assert sidecar.read_text() == "16"
    assert _snap(auto) == _snap(flat)

    reopened = MaterializedAggView(
        wh, "mv", "autob", ["g"], MEASURES, state_buckets="auto"
    )
    b2 = _mk(spark, [("g3", 1000, 50.0), ("new", 1001, -2.0)])
    for v in (flat, reopened):
        v.apply_append(b2)
    assert reopened.state_buckets == 16
    assert _snap(reopened) == _snap(flat)


def test_rebucket_resizes_after_growth(spark, tmp_warehouse):
    """An auto view bootstrapped small keeps its layout as it grows
    (stability); rebucket() re-derives √G once and the rewritten
    state still equals a from-scratch rebuild."""
    wh = Warehouse(spark, tmp_warehouse)
    v = MaterializedAggView(
        wh, "mv", "grow", ["g"], MEASURES, state_buckets="auto"
    )
    b1 = _mk(spark, [(f"g{i}", i, float(i)) for i in range(100)])
    v.apply_append(b1)
    assert v.state_buckets == 8  # sqrt(100) -> 2^3
    b2 = _mk(spark, [(f"h{i}", 10_000 + i, 1.0) for i in range(5000)])
    v.apply_append(b2)
    assert v.rebucket() == 64  # sqrt(5100) ~ 71 -> 2^6
    sidecar = wh.table_path("mv", "grow").parent / "grow.__buckets"
    assert sidecar.read_text() == "64"
    assert _snap(v) == _expected(
        wh, spark, b1.unionByName(b2), "grow_exp"
    )
    # the state table really is laid out on the new bucket count
    root = wh.table_path("mv", "grow")
    dirs = {p.name for p in root.iterdir() if p.is_dir()}
    assert max(int(d.split("=")[1]) for d in dirs) < 64
    assert len(dirs) > 8


def test_sync_views_over_partitioned_base_prunes_and_matches(
    spark, tmp_warehouse, monkeypatch
):
    """The r11 'what's wrong #1' fix: against a group-key-partitioned
    base, every base read of the sync — the replaced rows before the
    merge, the merge itself, the recompute after it — opens only the
    touched groups' partition directories (inputFiles proves it) and
    the spliced view still equals a from-scratch rebuild."""
    from bitcoin_datawarehouse_spark.pipeline import Loader
    from bitcoin_datawarehouse_spark.pipeline.matview import (
        sync_views_through_merge,
    )

    wh = Warehouse(spark, tmp_warehouse)
    loader = Loader(wh, "facts", "pt")
    base = _mk(spark, [(f"g{i % 10}", i, float(i)) for i in range(200)])
    loader.load_incremental(base, ["id"], partition_col="g")
    v = _view(wh, "proll")
    v.full_refresh(wh.read("facts", "pt"))

    opened: list[list[str]] = []
    read_partitions = Warehouse.read_partitions

    def spy(self, *args, **kwargs):
        df = read_partitions(self, *args, **kwargs)
        opened.append([] if df is None else df.inputFiles())
        return df

    monkeypatch.setattr(Warehouse, "read_partitions", spy)
    # in-place update of g3 + a brand-new id in g7 (no partition
    # migration — the partitioned merge contract forbids it)
    batch = _mk(spark, [("g3", 3, 999.0), ("g7", 1000, 1.0)])
    sync_views_through_merge(loader, [v], batch, ["id"])
    assert len(opened) == 3 and all(opened), opened
    files = [f for fs in opened for f in fs]
    assert all(("/g=g3/" in f) or ("/g=g7/" in f) for f in files), files
    assert _snap(v) == _expected(wh, spark, wh.read("facts", "pt"), "pexp")


def test_sync_views_rejects_non_key_partition(spark, tmp_warehouse):
    from bitcoin_datawarehouse_spark.pipeline import Loader
    from bitcoin_datawarehouse_spark.pipeline.matview import (
        sync_views_through_merge,
    )

    wh = Warehouse(spark, tmp_warehouse)
    loader = Loader(wh, "facts", "pt2")
    loader.load_incremental(
        _mk(spark, [("a", 1, 1.0)]), ["id"], partition_col="id"
    )
    v = _view(wh, "vx")
    with pytest.raises(ValueError, match="group keys"):
        sync_views_through_merge(
            loader, [v], _mk(spark, [("a", 1, 2.0)]), ["id"]
        )


def test_sync_views_through_merge_partitioned_multi_view(
    spark, tmp_warehouse
):
    """The partitioned wiring: two views stay consistent through
    first-sync bootstrap, an update batch, and an insert-only batch —
    each maintained from pruned reads and one shared slice."""
    from bitcoin_datawarehouse_spark.pipeline import Loader
    from bitcoin_datawarehouse_spark.pipeline.matview import (
        sync_views_through_merge,
    )

    wh = Warehouse(spark, tmp_warehouse)
    loader = Loader(wh, "facts", "pw")
    v1 = _view(wh, "pw_roll")
    v2 = MaterializedAggView(
        wh, "mv", "pw_minmax", ["g"], [Measure("lo", "min", "v"),
                                       Measure("hi", "max", "v")]
    )
    b1 = _mk(spark, [(f"g{i % 5}", i, float(i)) for i in range(50)])
    sync_views_through_merge(loader, [v1, v2], b1, ["id"], partition_col="g")
    assert wh.partition_cols("facts", "pw") == ["g"]
    base = wh.read("facts", "pw")
    assert _snap(v1) == _expected(wh, spark, base, "pw1")

    b2 = _mk(spark, [("g2", 2, -50.0), ("g4", 500, 99.0)])
    sync_views_through_merge(loader, [v1, v2], b2, ["id"])
    base = wh.read("facts", "pw")
    assert _snap(v1) == _expected(wh, spark, base, "pw2")
    lo_hi = {r[0]: (r[1], r[2]) for r in v2.read().collect()}
    assert lo_hi["g2"][0] == -50.0
    assert lo_hi["g4"][1] == 99.0


def _slow_overwrite(monkeypatch, wrote_first, resume):
    """Patch _overwrite_buckets to write ONE touched bucket, signal,
    then wait before writing the rest — a deterministic stand-in for
    the non-atomic window dynamic partition overwrite always has."""
    from bitcoin_datawarehouse_spark.pipeline import matview as mv

    orig = mv.MaterializedAggView._overwrite_buckets

    def slow(self, content):
        # splitting ONE overwrite into two actions makes the second
        # re-scan files the first replaced — pin the frame (the real
        # code writes it in a single action and never hits this)
        content = content.localCheckpoint()
        buckets = sorted(
            r[0] for r in content.select(mv._BUCKET).distinct().collect()
        )
        first, rest = buckets[0], buckets[1:]
        orig(self, content.filter(F.col(mv._BUCKET) == first))
        wrote_first.set()
        assert resume.wait(timeout=60)
        if rest:
            orig(self, content.filter(F.col(mv._BUCKET).isin(rest)))

    monkeypatch.setattr(mv.MaterializedAggView, "_overwrite_buckets", slow)


def test_partitioned_reader_without_lock_sees_torn_view(
    spark, tmp_warehouse, monkeypatch
):
    """The module-docstring contract, executable: a reader concurrent
    with PARTITIONED maintenance can see bucket A post-batch and
    bucket B pre-batch — a state that equals neither the old nor the
    new view."""
    import threading

    wh = Warehouse(spark, tmp_warehouse)
    v = MaterializedAggView(
        wh, "mv", "torn", ["g"], MEASURES, state_buckets=4
    )
    b1 = _mk(spark, [(f"g{i}", i, 1.0) for i in range(12)])
    v.apply_append(b1)
    pre = _snap(v)
    wrote_first, resume = threading.Event(), threading.Event()
    _slow_overwrite(monkeypatch, wrote_first, resume)
    b2 = _mk(spark, [(f"g{i}", 100 + i, 10.0) for i in range(12)])
    t = threading.Thread(target=v.apply_append, args=(b2,), daemon=True)
    t.start()
    assert wrote_first.wait(timeout=60)
    mid = _snap(v)  # no lock: reads between the two bucket writes
    resume.set()
    t.join(timeout=120)
    post = _snap(v)
    assert post == _expected(wh, spark, b1.unionByName(b2), "torn_exp")
    assert mid != pre and mid != post  # the torn read, pinned


def test_partitioned_reader_under_lock_is_consistent(
    spark, tmp_warehouse, monkeypatch
):
    """Running the SAME interleaving under Warehouse.lock removes the
    torn window: the maintenance holds the lock across both bucket
    writes, so a lock-taking reader sees complete-old or complete-new,
    never a mix."""
    import threading

    wh = Warehouse(spark, tmp_warehouse)
    v = MaterializedAggView(
        wh, "mv", "locked", ["g"], MEASURES, state_buckets=4
    )
    b1 = _mk(spark, [(f"g{i}", i, 1.0) for i in range(12)])
    v.apply_append(b1)
    pre = _snap(v)
    wrote_first, resume = threading.Event(), threading.Event()
    _slow_overwrite(monkeypatch, wrote_first, resume)
    b2 = _mk(spark, [(f"g{i}", 100 + i, 10.0) for i in range(12)])

    def maintain():
        with wh.lock("mv_maintenance", timeout_s=120):
            v.apply_append(b2)

    t = threading.Thread(target=maintain, daemon=True)
    t.start()
    assert wrote_first.wait(timeout=60)
    resume.set()  # the reader below must NOT depend on us releasing it
    with wh.lock("mv_maintenance", timeout_s=120):
        mid = _snap(v)
    t.join(timeout=120)
    assert mid in (pre, _snap(v))  # complete-old or complete-new only
    assert _snap(v) == _expected(wh, spark, b1.unionByName(b2), "lock_exp")


def test_multi_view_sync_shares_one_cached_base_slice(
    spark, tmp_warehouse, monkeypatch
):
    """r11 verdict #3, structurally: with N attached views, the
    post-merge recompute must feed every EXISTING view the SAME
    cached slice frame (one base pass fills it), not a fresh base
    read per view."""
    from bitcoin_datawarehouse_spark.pipeline import Loader
    from bitcoin_datawarehouse_spark.pipeline import matview as mv

    wh = Warehouse(spark, tmp_warehouse)
    loader = Loader(wh, "facts", "shared")
    v1 = _view(wh, "sh_roll")
    v2 = MaterializedAggView(
        wh, "mv", "sh_minmax", ["g"],
        [Measure("lo", "min", "v"), Measure("hi", "max", "v")],
    )
    b1 = _mk(spark, [(f"g{i % 4}", i, float(i)) for i in range(40)])
    mv.sync_views_through_merge(loader, [v1, v2], b1, ["id"])

    seen = []
    orig = mv.MaterializedAggView.apply_changes

    def spy(self, base_after, touched_keys):
        # capture cached-ness NOW — the wiring unpersists on exit
        seen.append((base_after, base_after.storageLevel.useMemory))
        return orig(self, base_after, touched_keys)

    monkeypatch.setattr(mv.MaterializedAggView, "apply_changes", spy)
    b2 = _mk(spark, [("g1", 1, -9.0), ("g3", 100, 42.0)])
    mv.sync_views_through_merge(loader, [v1, v2], b2, ["id"])
    assert len(seen) == 2
    assert seen[0][0] is seen[1][0]  # the SAME slice object for both views
    assert seen[0][1] and seen[1][1]  # and it is the cached slice
    base = wh.read("facts", "shared")
    assert _snap(v1) == _expected(wh, spark, base, "sh1")
    lo_hi = {r[0]: (r[1], r[2]) for r in v2.read().collect()}
    assert lo_hi["g1"][0] == -9.0 and lo_hi["g3"][1] == 42.0


def test_maybe_rebucket_only_fires_on_big_gap(spark, tmp_warehouse):
    """The maintenance-loop hook: steady-state syncs pay one
    group-count aggregate, never a rewrite; a ≥2-power-of-two gap
    between the persisted layout and the √G ideal triggers the
    one-shot rebucket."""
    wh = Warehouse(spark, tmp_warehouse)
    v = MaterializedAggView(
        wh, "mv", "mgrow", ["g"], MEASURES, state_buckets="auto"
    )
    b1 = _mk(spark, [(f"g{i}", i, float(i)) for i in range(300)])
    v.apply_append(b1)
    assert v.state_buckets == 16
    assert v.maybe_rebucket() is None  # ideal == current

    b2 = _mk(spark, [(f"h{i}", 1000 + i, 1.0) for i in range(600)])
    v.apply_append(b2)
    assert v.maybe_rebucket() is None  # ~900 groups -> 32: 1 step, hold
    assert v.state_buckets == 16

    b3 = _mk(spark, [(f"k{i}", 10_000 + i, 2.0) for i in range(19_100)])
    v.apply_append(b3)
    assert v.maybe_rebucket() == 128  # ~20k groups: 3 steps, rewrite
    sidecar = wh.table_path("mv", "mgrow").parent / "mgrow.__buckets"
    assert sidecar.read_text() == "128"
    full = b1.unionByName(b2).unionByName(b3)
    assert _snap(v) == _expected(wh, spark, full, "mgrow_exp")


def test_delta_streaming_matview_exactly_once_and_batch_sized_writes(
    spark, tmp_path
):
    """The big-state streaming path: per-trigger cost ∝ batch (base
    files byte-untouched by absorbs), drain ≡ rebuild, replayed
    batch_id skipped, crash-window orphan delta overwritten and
    counted once."""
    import hashlib

    from bitcoin_datawarehouse_spark.pipeline.matview import (
        DeltaStreamingMatView,
    )
    from bitcoin_datawarehouse_spark.streaming.jobs import (
        run_stream_to_completion,
    )
    from bitcoin_datawarehouse_spark.streaming.matview_stream import (
        run_delta_matview_stream,
    )

    rows = [(f"g{i % 5}", i, float(i)) for i in range(30)]
    all_df = _mk(spark, rows)
    src = tmp_path / "src"
    for i in range(3):
        all_df.filter(F.col("id") % 3 == i).repartition(1).write.parquet(
            str(src / f"f{i}")
        )
    wh = Warehouse(spark, str(tmp_path / "dwh"))
    dv = DeltaStreamingMatView(wh, "mv", "dlive", ["g"], MEASURES)
    stream = (
        spark.readStream.schema("g string, id long, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    run_stream_to_completion(
        run_delta_matview_stream(stream, dv, str(tmp_path / "ck"))
    )
    got = sorted(tuple(r) for r in dv.read(spark).collect())
    assert got == _expected(wh, spark, all_df, "dstream")
    assert dv.pending_deltas(spark) == 3

    # replayed trigger: already-absorbed batch_id is a no-op
    assert dv.absorb(_mk(spark, [("g0", 99, 1e6)]), batch_id=0) is False
    assert sorted(tuple(r) for r in dv.read(spark).collect()) == got

    # per-trigger writes are delta-only: absorb a 4th batch and check
    # every pre-existing delta file is byte-identical (no state rewrite)
    root = wh.root
    before = {
        str(p.relative_to(root)): hashlib.md5(p.read_bytes()).hexdigest()
        for p in root.rglob("*.parquet")
        if "__d" in str(p)
    }
    extra = _mk(spark, [("g1", 100, 50.0), ("zz", 101, 1.0)])
    assert dv.absorb(extra, batch_id=3) is True
    after = {
        str(p.relative_to(root)): hashlib.md5(p.read_bytes()).hexdigest()
        for p in root.rglob("*.parquet")
        if "__d" in str(p)
    }
    assert all(after[f] == h for f, h in before.items() if f in after)
    assert sorted(tuple(r) for r in dv.read(spark).collect()) == _expected(
        wh, spark, all_df.unionByName(extra), "dstream2"
    )

    # crash window: an orphan delta written WITHOUT its pointer flip
    # is invisible — the replay overwrites it and counts the batch once
    ptr = dv._pointer(spark)
    orphan = dv._delta_t(ptr["n_absorbed"] + 1)
    wh.write_atomic(_mk(spark, [("boom", 0, 9e9)]), "mv", orphan)
    nxt = _mk(spark, [("g2", 200, 2.0)])
    assert dv.absorb(nxt, batch_id=4) is True
    assert sorted(tuple(r) for r in dv.read(spark).collect()) == _expected(
        wh, spark, all_df.unionByName(extra).unionByName(nxt), "dstream3"
    )


def test_delta_streaming_matview_compaction_bounds_the_log(spark, tmp_path):
    """compact() folds the pending deltas into a new base generation
    atomically: exposed rows unchanged, pending count drops to zero,
    folded deltas vacuumed past the grace window, and absorbs after
    compaction keep combining correctly."""
    from bitcoin_datawarehouse_spark.pipeline.matview import (
        DeltaStreamingMatView,
    )

    wh = Warehouse(spark, str(tmp_path / "cwh"))
    dv = DeltaStreamingMatView(wh, "mv", "clog", ["g"], MEASURES)
    batches = [
        _mk(spark, [(f"g{j % 4}", 10 * i + j, float(i + j)) for j in range(6)])
        for i in range(4)
    ]
    for i, b in enumerate(batches):
        assert dv.absorb(b, batch_id=i)
    assert dv.pending_deltas(spark) == 4
    before = sorted(tuple(r) for r in dv.read(spark).collect())

    assert dv.compact(spark) == 4
    assert dv.pending_deltas(spark) == 0
    assert sorted(tuple(r) for r in dv.read(spark).collect()) == before
    assert dv.compact(spark) == 0  # idempotent when already compact

    b5 = _mk(spark, [("g0", 999, -3.0), ("new", 1000, 7.0)])
    assert dv.absorb(b5, batch_id=4)
    full = batches[0]
    for b in batches[1:]:
        full = full.unionByName(b)
    full = full.unionByName(b5)
    assert sorted(tuple(r) for r in dv.read(spark).collect()) == _expected(
        wh, spark, full, "clog_exp"
    )
    # second compaction folds the post-compact delta and vacuums the
    # pre-compact delta log (indexes 1..4 are <= old_floor, past grace)
    assert dv.compact(spark) == 1
    tables = set(wh.list_tables("mv"))
    assert not any(t.startswith("clog__d1") for t in tables)
    assert "clog__b1" in tables  # previous base kept for in-flight readers
    assert "clog__b2" in tables
