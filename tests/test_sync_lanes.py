"""Sync lanes and the watermark kept from the write.

Pins that jobs sharing a target run one after another in ledger order
while other targets run beside them, that a failing lane leaves the
other lanes' rows and marks intact, that the ledger's watermark always
equals the MAX probe, that any out-of-band write to a target sends the
next run back to the probe, and that a ledger written without the
watermark columns still syncs.
"""

from __future__ import annotations

import datetime as dt
import threading
import time

import pytest
from pyspark.sql import functions as F

from bitcoin_datawarehouse_spark.pipeline import (
    JobControl,
    Loader,
    Pipeline,
    StaticSource,
    Warehouse,
    rows_to_df,
)
from bitcoin_datawarehouse_spark.pipeline.jobs import ETL_SCHEMA, JOB_TABLE


def _job(name, qid, table, key="id", inc="id"):
    return {"job_name": name, "query_id": qid, "target_table": table,
            "p_key": key, "status": 0, "active": 1, "incremental_column": inc}


def _after(rows, col="id", key=int):
    """A source callable: the rows past the watermark parameter."""
    return lambda p: [r for r in rows if p is None or key(r[col]) > key(p)]


def _ledger(wh):
    return {r["job_name"]: r.asDict() for r in wh.read(ETL_SCHEMA, JOB_TABLE).collect()}


@pytest.fixture()
def probes(monkeypatch):
    """Values returned by every ``Loader.get_max_value`` call."""
    seen = []
    orig = Loader.get_max_value

    def probe(self, column):
        seen.append(orig(self, column))
        return seen[-1]

    monkeypatch.setattr(Loader, "get_max_value", probe)
    return seen


def test_shared_target_jobs_run_in_ledger_order_beside_other_lanes(spark, tmp_warehouse):
    wh = Warehouse(spark, tmp_warehouse)
    spans: dict[str, tuple[float, float]] = {}
    a_in, c_in = threading.Event(), threading.Event()

    def fetch(name, rows, mine=None, other=None):
        def call(p):
            t0 = time.perf_counter()
            if mine is not None:
                mine.set()
                # lane "a" and lane "c" must be inside their fetches at once
                assert other.wait(60), f"{name}: the other lane never started"
            time.sleep(0.2)
            spans[name] = (t0, time.perf_counter())
            return rows
        return call

    src = StaticSource({
        1: fetch("a", [{"id": i} for i in range(3)], a_in, c_in),
        2: fetch("b", [{"id": i} for i in range(2, 6)]),
        3: fetch("c", [{"id": 7}], c_in, a_in),
    })
    JobControl(spark, wh).seed([_job("a", 1, "t1"), _job("b", 2, "t1"), _job("c", 3, "t2")])
    res = Pipeline(spark, wh, src).run()
    assert [r.job_name for r in res] == ["a", "b", "c"]
    assert all(r.ok for r in res), res
    assert spans["a"][1] <= spans["b"][0]  # same target: a, then b
    assert Loader(wh, "bitcoin", "t1").get_record_count() == 6


def test_failing_lane_leaves_other_lanes_intact(spark, tmp_warehouse):
    wh = Warehouse(spark, tmp_warehouse)

    def boom(p):
        raise RuntimeError("source down for y")

    src = StaticSource({1: [{"id": 1}, {"id": 2}], 2: boom, 3: [{"id": 5}]})
    JobControl(spark, wh).seed([_job("x", 1, "tx"), _job("y", 2, "ty"), _job("z", 3, "tz")])
    res = Pipeline(spark, wh, src).run()
    assert [(r.job_name, r.ok) for r in res] == [("x", True), ("y", False), ("z", True)]
    assert "source down for y" in res[1].error
    led = _ledger(wh)
    assert led["x"]["status"] == led["z"]["status"] == 1
    assert led["y"]["status"] == 2
    assert "source down for y" in led["y"]["error_message"]
    assert led["x"]["error_message"] is None and led["z"]["error_message"] is None
    assert Loader(wh, "bitcoin", "tx").get_record_count() == 2
    assert Loader(wh, "bitcoin", "tz").get_record_count() == 1
    assert not wh.table_exists("bitcoin", "ty")


def test_ledger_watermark_equals_probe_after_every_run(spark, tmp_warehouse, probes):
    wh = Warehouse(spark, tmp_warehouse)
    ids = [{"id": i, "v": float(i)} for i in range(4)]
    days = [{"k": i, "d": dt.date(2024, 1, 1) + dt.timedelta(days=i)} for i in range(3)]
    src = StaticSource({1: _after(ids), 2: _after(days, "d", str)})
    JobControl(spark, wh).seed([_job("i", 1, "ti"), _job("d", 2, "td", key="k", inc="d")])
    pipe = Pipeline(spark, wh, src)
    sent = [(1, None), (2, None)]
    for step in range(4):
        n = len(src.calls)
        assert all(r.ok for r in pipe.run())
        assert sorted(src.calls[n:]) == sent, step
        # the first sync probes the missing targets; later runs take
        # every watermark from the ledger
        assert probes == ([None, None] if step == 0 else []), step
        led = _ledger(wh)
        for name, table, col in (("i", "ti", "id"), ("d", "td", "d")):
            want = Loader(wh, "bitcoin", table).get_max_value(col)
            assert led[name]["watermark"] == str(want), (step, name)
        sent = [(1, led["i"]["watermark"]), (2, led["d"]["watermark"])]
        probes.clear()
        ids.append({"id": 10 + step, "v": 0.5})
        days.append({"k": 10 + step, "d": dt.date(2024, 2, 1) + dt.timedelta(days=step)})


def _append(spark, wh):
    wh.append(rows_to_df(spark, [{"id": 50, "v": 5.0}]), "bitcoin", "t")


def _delete(spark, wh):
    Loader(wh, "bitcoin", "t").delete_by_condition("id >= 5")


def _reload(spark, wh):
    Loader(wh, "bitcoin", "t").load_full_refresh(
        rows_to_df(spark, [{"id": i, "v": 1.0} for i in range(3)])
    )


def _rollback(spark, wh):
    wh.rollback("bitcoin", "t")


@pytest.mark.parametrize("write", [_append, _delete, _reload, _rollback])
def test_out_of_band_write_sends_next_run_to_the_probe(spark, tmp_warehouse, probes, write):
    wh = Warehouse(spark, tmp_warehouse, keep_versions=2)
    rows = [{"id": i, "v": float(i)} for i in range(8)]
    src = StaticSource({1: _after(rows)})
    JobControl(spark, wh).seed([_job("j", 1, "t")])
    pipe = Pipeline(spark, wh, src)
    assert pipe.run()[0].ok  # first sync
    rows.append({"id": 9, "v": 9.0})
    assert pipe.run()[0].ok  # from the ledger's watermark
    assert src.calls[-1] == (1, "7")
    probes.clear()
    write(spark, wh)
    res = pipe.run()
    assert res[0].ok
    assert len(probes) == 1 and probes[0] is not None
    assert src.calls[-1] == (1, str(probes[0]))
    assert _ledger(wh)["j"]["watermark"] == str(Loader(wh, "bitcoin", "t").get_max_value("id"))


def test_ledger_without_watermark_columns_still_syncs(spark, tmp_warehouse, probes):
    wh = Warehouse(spark, tmp_warehouse)
    old = spark.createDataFrame(
        [("j", 1, "t", "id", 1, 1, "id")],
        "job_name string, query_id bigint, target_table string, p_key string, "
        "status bigint, active bigint, incremental_column string",
    ).select(
        "*",
        F.current_timestamp().alias("etl_updated_ts"),
        F.lit(None).cast("timestamp").alias("start_ts"),
        F.lit(None).cast("timestamp").alias("end_ts"),
        F.lit(None).cast("string").alias("error_message"),
    )
    rows = [{"id": i} for i in range(5)]
    Loader(wh, "bitcoin", "t").load_full_refresh(rows_to_df(spark, rows[:3]))
    wh.write_atomic(old, ETL_SCHEMA, JOB_TABLE, coalesce=1)
    src = StaticSource({1: _after(rows)})
    pipe = Pipeline(spark, wh, src)
    res = pipe.run()
    assert res[0].ok and res[0].rows_loaded == 5
    assert src.calls == [(1, "2")] and probes == [2]
    assert _ledger(wh)["j"]["watermark"] == "4"
    rows.append({"id": 6})
    assert pipe.run()[0].rows_loaded == 6
    assert src.calls[-1] == (1, "4") and probes == [2]
