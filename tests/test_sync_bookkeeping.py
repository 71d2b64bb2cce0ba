"""Sync bookkeeping: the in-memory control ledger, the row count
observed on the load's own write, and the Arrow-built batch frame.

Pins the ledger's timestamps as instants on a non-UTC driver, the
verbatim error text of a failed job, the loader's returned count on
every load path ``run_job`` takes, and the Spark-job budgets of a one-
and a five-job incremental sync and of a delete.
"""

from __future__ import annotations

import datetime as dt
import threading
import time
import uuid

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

_TS_COLS = ("etl_updated_ts", "start_ts", "end_ts")


@pytest.fixture()
def wh(spark, tmp_warehouse):
    return Warehouse(spark, tmp_warehouse)


@pytest.fixture()
def new_york(monkeypatch):
    """A driver whose local zone is America/New_York (the session time
    zone stays UTC)."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def _job(name, qid, table, key="id", inc="id", active=1):
    return {"job_name": name, "query_id": qid, "target_table": table,
            "p_key": key, "status": 0, "active": active,
            "incremental_column": inc}


def _ledger_micros(wh):
    """{job_name: (etl_updated_ts, start_ts, end_ts)} as epoch micros —
    instants, independent of any time zone."""
    df = wh.read(ETL_SCHEMA, JOB_TABLE)
    cols = [F.unix_micros(c).alias(c) for c in _TS_COLS]
    return {r["job_name"]: tuple(r[c] for c in _TS_COLS)
            for r in df.select("job_name", *cols).collect()}


def test_fail_job_stores_error_text_verbatim(spark, wh):
    ctl = JobControl(spark, wh)
    ctl.seed([_job("j", 1, "t")])
    ctl.fail_job("j", "NOW()")
    st = ctl.job_status("j")
    assert st["status"] == 2 and st["error_message"] == "NOW()"


def test_ledger_marks_are_write_instants_on_non_utc_driver(spark, wh, new_york):
    ctl = JobControl(spark, wh)
    ctl.seed([_job("a", 1, "ta"), _job("b", 2, "tb")])
    lo = int(time.time() * 1e6)
    ctl.start_job("a")
    mid = int(time.time() * 1e6)
    ctl.end_job("a")
    hi = int(time.time() * 1e6)
    _, start, end = _ledger_micros(wh)["a"]
    assert lo <= start <= mid <= end <= hi


def test_untouched_ledger_timestamps_survive_rewrites(spark, wh, new_york):
    ctl = JobControl(spark, wh)
    ctl.seed([_job("a", 1, "ta"), _job("b", 2, "tb"), _job("c", 3, "tc", active=0)])
    ctl.start_job("b")
    ctl.end_job("b")
    before = _ledger_micros(wh)
    ctl.tables_to_sync()  # held ledger, as in a run
    for _ in range(3):
        ctl.start_job("a")
        ctl.fail_job("a", "boom")
    ctl.release()
    ctl.start_job("a")  # outside a run: one read, one write
    after = _ledger_micros(wh)
    assert after["b"] == before["b"] and after["c"] == before["c"]
    assert after["a"][0] == before["a"][0]  # seed stamp untouched
    assert ctl.job_status("b")["status"] == 1
    assert ctl.job_status("c")["active"] == 0


def test_rows_to_df_naive_datetime_is_driver_local(spark, new_york):
    df = rows_to_df(spark, [{"id": 1, "ts": dt.datetime(2024, 1, 1, 12)}])
    got = df.select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss")).first()[0]
    assert got == "2024-01-01 17:00:00"


def test_rows_to_df_keeps_nan(spark):
    df = rows_to_df(spark, [{"id": 1, "v": float("nan")}, {"id": 2, "v": 1.5}])
    v = {r["id"]: r["v"] for r in df.collect()}
    assert v[1] != v[1] and v[2] == 1.5  # NaN stays NaN, not NULL


def test_loader_count_matches_record_count_on_every_run_job_path(spark, wh):
    """First sync (full refresh), merge with re-sent keys, schema-drift
    merge and a keyless replace: each run's ``rows_loaded`` (the count
    observed on the load's write) equals a COUNT(*) right after."""
    batches = [
        [{"id": i, "v": float(i)} for i in range(5)],
        [{"id": 3, "v": 30.0}, {"id": 4, "v": 40.0}, {"id": 9, "v": 9.0}],
        [{"id": 4, "v": 4.5, "extra": "x"}, {"id": 11, "v": 1.0, "extra": "y"}],
    ]
    keyless = [[{"seq": 1}, {"seq": 2}], [{"seq": 7}], [{"seq": 1}, {"seq": 2}, {"seq": 3}]]
    it = iter(batches)
    kl = iter(keyless)
    src = StaticSource({1: lambda p: next(it), 2: lambda p: next(kl)})
    JobControl(spark, wh).seed([_job("k", 1, "tk"), _job("n", 2, "tn", key="", inc="seq")])
    pipe = Pipeline(spark, wh, src)
    for expect in ((5, 2), (6, 1), (7, 3)):
        res = {r.job_name: r for r in pipe.run()}
        assert all(r.ok for r in res.values()), res
        got = (res["k"].rows_loaded, res["n"].rows_loaded)
        assert got == (Loader(wh, "bitcoin", "tk").get_record_count(),
                       Loader(wh, "bitcoin", "tn").get_record_count()) == expect
    # merge into a missing target (the incremental-value first sync)
    ld = Loader(wh, "bitcoin", "fresh")
    n = ld.load_incremental(rows_to_df(spark, [{"id": 1}, {"id": 1}, {"id": 2}]), ["id"])
    assert n == ld.get_record_count() == 2


def test_load_full_refresh_empty_frame_returns_zero(spark, wh):
    base = rows_to_df(spark, [{"id": 1, "v": 1.0}, {"id": 2, "v": 2.0}])
    ld = Loader(wh, "bitcoin", "empty")
    for empty in (base.limit(0), base.filter(F.lit(False))):
        out = {}
        t = threading.Thread(target=lambda: out.update(n=ld.load_full_refresh(empty)),
                             daemon=True)
        t.start()
        t.join(120)
        assert not t.is_alive(), "observed count never arrived"
        assert out["n"] == 0 == ld.get_record_count()


#: Spark jobs of one incremental one-table Pipeline.run (merge path):
#: measured 9 on Spark 4.1.2 local[8] (a driver-built batch merges with
#: no cache fill and no count); 11 with a cached and counted batch, 14
#: with one ledger write per mark and a MAX probe per run, 19 with a
#: ledger re-read per mark and a COUNT probe
INCREMENTAL_SYNC_JOB_CAP = 9
#: the same for a run of five jobs on five targets: measured 29; 39
#: with a cached and counted batch per lane, 62 with one ledger write
#: per mark and a MAX probe per job
INCREMENTAL_SYNC_5_JOB_CAP = 29
#: Spark jobs of ``Loader.delete_by_condition``: the target read's
#: schema job and the rewrite; measured 6 with a count before and one
#: after the filter (two jobs each under AQE)
DELETE_JOBS = 2
#: Spark jobs a run starts from the calling thread (the ledger read and
#: its two writes); the budgets' lower bound: only jobs run in the lane
#: threads can lift a count above it
CALLER_THREAD_JOBS = 4


def _grouped_jobs(spark, run):
    """(run's result, ids of the Spark jobs it ran), found by a job
    group set on the calling thread."""
    sc = spark.sparkContext
    group = f"sync-budget-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "incremental sync")
    try:
        res = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return res, sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_incremental_sync_job_budget(spark, wh):
    rows = [{"id": i, "v": float(i)} for i in range(20)]
    src = StaticSource({1: lambda p: rows if p is None else rows[-3:] + [{"id": 99, "v": 0.5}]})
    JobControl(spark, wh).seed([_job("j", 1, "tj")])
    pipe = Pipeline(spark, wh, src)
    assert pipe.run()[0].ok  # first sync: full refresh
    res, jobs = _grouped_jobs(spark, pipe.run)
    assert res[0].ok and res[0].rows_loaded == 21
    assert CALLER_THREAD_JOBS < len(jobs) <= INCREMENTAL_SYNC_JOB_CAP, jobs


def _five_lane_sync_jobs(spark, wh, rows):
    """The Spark jobs of the second (incremental) run of five jobs on
    five targets, job ``q`` fed by ``rows(q)``."""
    src = StaticSource({q: rows(q) for q in range(1, 6)})
    JobControl(spark, wh).seed([_job(f"j{q}", q, f"t{q}") for q in range(1, 6)])
    pipe = Pipeline(spark, wh, src)
    assert all(r.ok for r in pipe.run())  # first sync: full refresh
    res, jobs = _grouped_jobs(spark, pipe.run)
    assert [(r.job_name, r.ok, r.rows_loaded) for r in res] == [
        (f"j{q}", True, 21) for q in range(1, 6)
    ]
    return jobs


def test_five_job_incremental_sync_job_budget(spark, wh):
    def rows(q):
        out = [{"id": i, "v": float(i * 10 + q)} for i in range(20)]
        return lambda p: out if p is None else out[-3:] + [{"id": 99, "v": q / 2}]

    jobs = _five_lane_sync_jobs(spark, wh, rows)
    assert CALLER_THREAD_JOBS < len(jobs) <= INCREMENTAL_SYNC_5_JOB_CAP, jobs


def test_five_lanes_with_identical_batches_run_as_many_jobs(spark, wh):
    """Lanes merging identical batches: cached batches would share one
    CacheManager entry, and the first lane's unpersist would drop it
    under the others (measured 35 jobs against 39 for distinct
    batches).  Driver-built batches take no cache, so the job count is
    the distinct-batch one."""
    out = [{"id": i, "v": float(i)} for i in range(20)]
    inc = out[-3:] + [{"id": 99, "v": 0.5}]
    jobs = _five_lane_sync_jobs(spark, wh, lambda q: lambda p: out if p is None else inc)
    assert len(jobs) == INCREMENTAL_SYNC_5_JOB_CAP, jobs


def test_delete_by_condition_is_one_action(spark, wh):
    """The before and after counts ride the rewrite, the one action, and
    a predicate that folds to a constant still returns its count."""
    ld = Loader(wh, "bitcoin", "del")
    ld.load_full_refresh(rows_to_df(spark, [{"id": i, "v": float(i)} for i in range(10)]))
    n, jobs = _grouped_jobs(spark, lambda: ld.delete_by_condition("v >= 7.0 OR v IS NULL"))
    assert n == 3 and ld.get_record_count() == 7
    assert len(jobs) == DELETE_JOBS, jobs
    assert ld.delete_by_condition(F.col("id") < 0) == 0
    assert ld.delete_by_condition("true") == 7 and ld.get_record_count() == 0
