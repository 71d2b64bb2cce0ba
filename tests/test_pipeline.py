"""Pipeline-layer tests (SURVEY.md §5 strategy, item 2).

Covers: full-refresh idempotence, incremental merge correctness
(upsert not duplicate; new row wins; all non-key columns replaced),
intra-batch dedupe, first-sync fallback, watermark advance + source
parameter pushdown, empty-batch short-circuit, delete-by-predicate,
schema drift tolerance, continue-on-error with status/error ledger,
the YAML transform compiler, 5-type schema inference, and the
polling source state machine (timeout / failure).
"""

from __future__ import annotations

import datetime as dt
import time

import pytest
from pyspark.sql import functions as F

from bitcoin_datawarehouse_spark.pipeline import (
    JobControl,
    LoadStrategy,
    Loader,
    Pipeline,
    RestPollingSource,
    StaticSource,
    TableSpec,
    Warehouse,
    infer_schema,
    parse_spec,
    rows_to_df,
)

REF_YAML = """
tables:
  - name: bitcoin_inputs
    columns:
      - address:
        tx_id: transaction_id
        value: bitcoin_amount
    transform:
      - dimension_attribute_name: UPPER([entity])
"""


@pytest.fixture()
def wh(spark, tmp_warehouse):
    return Warehouse(spark, tmp_warehouse)


def rows_df(spark, rows):
    return rows_to_df(spark, rows)


# ---------------------------------------------------------------------------
# loader
# ---------------------------------------------------------------------------

def test_full_refresh_idempotent(spark, wh):
    ld = Loader(wh, "bitcoin", "block")
    df = rows_df(spark, [{"hash": "a", "height": 1}, {"hash": "b", "height": 2}])
    ld.load_full_refresh(df)
    ld.load_full_refresh(df)
    assert ld.get_record_count() == 2
    assert sorted(r["hash"] for r in wh.read("bitcoin", "block").collect()) == ["a", "b"]


def test_incremental_upsert_new_row_wins(spark, wh):
    ld = Loader(wh, "bitcoin", "tx")
    ld.load_incremental(
        rows_df(spark, [{"id": 1, "fee": 10.0, "memo": "old"},
                        {"id": 2, "fee": 20.0, "memo": "keep"}]),
        unique_keys=["id"],
    )
    ld.load_incremental(
        rows_df(spark, [{"id": 1, "fee": 99.0, "memo": "new"},
                        {"id": 3, "fee": 30.0, "memo": "ins"}]),
        unique_keys=["id"],
    )
    got = {r["id"]: (r["fee"], r["memo"]) for r in wh.read("bitcoin", "tx").collect()}
    assert got == {1: (99.0, "new"), 2: (20.0, "keep"), 3: (30.0, "ins")}


def test_scd2_history_change_new_null_replay_and_slices(spark, wh):
    """SCD Type-2 loader end to end: a changed key closes its version
    and opens a new one, a new key opens its first, an unchanged key
    is untouched, NULL→value counts as a change (null-safe compare),
    replaying an identical batch is a no-op, out-of-order batch_ts
    raises, and current_of/as_of slice the history correctly."""
    import datetime as dt

    import pytest as _pytest

    ld = Loader(wh, "dim", "cust")
    ld.load_scd2(
        rows_df(spark, [
            {"id": 1, "seg": "A", "bal": 10.0},
            {"id": 2, "seg": "B", "bal": 20.0},
            {"id": 3, "seg": None, "bal": 30.0},
        ]),
        unique_keys=["id"],
        batch_ts="2024-01-01",
    )
    ld.load_scd2(
        rows_df(spark, [
            {"id": 1, "seg": "A2", "bal": 10.0},   # changed
            {"id": 2, "seg": "B", "bal": 20.0},    # unchanged
            {"id": 3, "seg": "C", "bal": 30.0},    # NULL -> value
            {"id": 4, "seg": "D", "bal": 40.0},    # new key
        ]),
        unique_keys=["id"],
        batch_ts="2024-02-01",
    )
    rows = {
        (r["id"], r["seg"]): (
            r["valid_from"].date().isoformat(),
            r["valid_to"].date().isoformat() if r["valid_to"] else None,
            r["is_current"],
        )
        for r in wh.read("dim", "cust").collect()
    }
    assert rows == {
        (1, "A"): ("2024-01-01", "2024-02-01", False),
        (1, "A2"): ("2024-02-01", None, True),
        (2, "B"): ("2024-01-01", None, True),
        (3, None): ("2024-01-01", "2024-02-01", False),
        (3, "C"): ("2024-02-01", None, True),
        (4, "D"): ("2024-02-01", None, True),
    }
    # replay the identical batch: value-level no-op
    before = sorted(map(tuple, wh.read("dim", "cust").collect()), key=repr)
    ld.load_scd2(
        rows_df(spark, [
            {"id": 1, "seg": "A2", "bal": 10.0},
            {"id": 2, "seg": "B", "bal": 20.0},
            {"id": 3, "seg": "C", "bal": 30.0},
            {"id": 4, "seg": "D", "bal": 40.0},
        ]),
        unique_keys=["id"],
        batch_ts="2024-02-01",
    )
    assert sorted(
        map(tuple, wh.read("dim", "cust").collect()), key=repr
    ) == before
    # out-of-order load refuses
    with _pytest.raises(ValueError, match="time-ordered"):
        ld.load_scd2(
            rows_df(spark, [{"id": 1, "seg": "X", "bal": 1.0}]),
            unique_keys=["id"],
            batch_ts="2023-12-31",
        )
    # slices: current is one open row per key; as_of mid-January sees v1
    cur = {r["id"]: r["seg"] for r in ld.current_of().collect()}
    assert cur == {1: "A2", 2: "B", 3: "C", 4: "D"}
    jan = {r["id"]: r["seg"] for r in ld.as_of("2024-01-15").collect()}
    assert jan == {1: "A", 2: "B", 3: None}
    assert all(
        r["valid_from"] <= dt.datetime(2024, 1, 15)
        for r in ld.as_of("2024-01-15").collect()
    )


@pytest.mark.parametrize(
    "zone, first_ts, second_ts, refused",
    [
        # replaying the current batch_ts is a no-op on a driver whose
        # wall clock runs ahead of UTC
        ("Asia/Tokyo", "2024-01-02 00:00", "2024-01-02 00:00", False),
        # a batch four hours older than the current version is refused
        # on a driver whose wall clock runs behind UTC
        ("America/New_York", "2024-01-02 00:00", "2024-01-01 20:00", True),
    ],
)
def test_scd2_time_order_guard_ignores_driver_zone(
    spark, wh, monkeypatch, zone, first_ts, second_ts, refused
):
    """batch_ts and valid_from are compared in the session zone (UTC)
    that parses batch_ts, whatever the driver's local zone is."""
    monkeypatch.setenv("TZ", zone)
    time.tzset()
    try:
        ld = Loader(wh, "dim", "tz")
        ld.load_scd2(
            rows_df(spark, [{"id": 1, "seg": "A"}]), ["id"], batch_ts=first_ts
        )
        again = rows_df(spark, [{"id": 1, "seg": "B" if refused else "A"}])
        if refused:
            with pytest.raises(ValueError, match="time-ordered"):
                ld.load_scd2(again, ["id"], batch_ts=second_ts)
        else:
            ld.load_scd2(again, ["id"], batch_ts=second_ts)
        rows = wh.read("dim", "tz").collect()
        assert [(r["seg"], r["is_current"]) for r in rows] == [("A", True)]
    finally:
        monkeypatch.undo()
        time.tzset()


def test_incremental_intra_batch_dupes_resolved(spark, wh):
    ld = Loader(wh, "bitcoin", "t")
    ld.load_incremental(
        rows_df(spark, [
            {"id": 1, "v": 1.0, "ts": 1},
            {"id": 1, "v": 2.0, "ts": 3},
            {"id": 1, "v": 1.5, "ts": 2},
        ]),
        unique_keys=["id"],
        order_col="ts",
    )
    [(v,)] = [(r["v"],) for r in wh.read("bitcoin", "t").collect()]
    assert v == 2.0  # last write (max ts) wins


def test_incremental_no_keys_degrades_to_full_refresh(spark, wh):
    ld = Loader(wh, "bitcoin", "nk")
    ld.load_incremental(rows_df(spark, [{"a": 1}]), unique_keys=None)
    ld.load_incremental(rows_df(spark, [{"a": 2}]), unique_keys=[])
    assert [r["a"] for r in wh.read("bitcoin", "nk").collect()] == [2]


def test_incremental_schema_drift_fills_null(spark, wh):
    ld = Loader(wh, "bitcoin", "drift")
    ld.load_incremental(rows_df(spark, [{"id": 1, "old_col": "x"}]), ["id"])
    ld.load_incremental(rows_df(spark, [{"id": 2, "new_col": 7}]), ["id"])
    got = {r["id"]: r.asDict() for r in wh.read("bitcoin", "drift").collect()}
    assert got[1]["old_col"] == "x" and got[1].get("new_col") is None
    assert got[2]["new_col"] == 7 and got[2].get("old_col") is None


def test_delete_by_condition(spark, wh):
    ld = Loader(wh, "bitcoin", "d")
    ld.load_full_refresh(rows_df(spark, [{"id": i, "v": float(i)} for i in range(10)]))
    deleted = ld.delete_by_condition("v >= 7.0")
    assert deleted == 3
    assert ld.get_record_count() == 7


def test_watermark_probes(spark, wh):
    ld = Loader(wh, "bitcoin", "w")
    assert ld.get_max_value("ts") is None  # absent table → None
    assert ld.get_record_count() == 0
    ld.load_full_refresh(rows_df(spark, [{"ts": 5}, {"ts": 9}]))
    assert ld.get_max_value("ts") == 9


# ---------------------------------------------------------------------------
# schema inference (reference 5-type lattice)
# ---------------------------------------------------------------------------

def test_infer_schema_five_types_and_fallbacks(spark):
    rows = [
        {"i": 1, "f": 1.5, "b": True, "t": dt.datetime(2025, 1, 1), "s": "x",
         "n": None, "m": 1},
        {"i": 2, "f": 2, "b": False, "t": dt.datetime(2025, 1, 2), "s": "y",
         "n": None, "m": "oops"},
    ]
    sch = {f.name: f.dataType.simpleString() for f in infer_schema(rows).fields}
    assert sch == {"i": "bigint", "f": "double", "b": "boolean",
                   "t": "timestamp", "s": "string",
                   "n": "string",   # all-null → string fallback
                   "m": "string"}   # mixed → string
    df = rows_to_df(spark, rows)
    assert df.count() == 2


# ---------------------------------------------------------------------------
# transforms
# ---------------------------------------------------------------------------

def test_transform_spec_reference_yaml(spark):
    specs = parse_spec(REF_YAML)
    spec = specs["bitcoin_inputs"]
    df = rows_to_df(spark, [
        {"address": "bc1q", "tx_id": "t1", "value": 0.5, "entity": "miner",
         "extra": "dropme"},
    ])
    out = spec.apply(df)
    assert out.columns == [
        "address", "transaction_id", "bitcoin_amount", "dimension_attribute_name"
    ]
    row = out.first()
    assert row["transaction_id"] == "t1"
    assert row["bitcoin_amount"] == 0.5
    assert row["dimension_attribute_name"] == "MINER"


def test_transform_missing_column_nonstrict_vs_strict(spark):
    spec = TableSpec("t", {"a": None, "missing": "m2"}, {"d": "UPPER([gone])"})
    df = rows_to_df(spark, [{"a": 1}])
    assert spec.apply(df).columns == ["a"]
    with pytest.raises(KeyError):
        spec.apply(df, strict=True)


# ---------------------------------------------------------------------------
# source adapter state machine
# ---------------------------------------------------------------------------

def _scripted_transport(script):
    """script: list of responses for successive GETs."""
    state = {"i": 0}

    def transport(method, path, body):
        if method == "POST":
            return {"execution_id": "e1"}
        resp = script[min(state["i"], len(script) - 1)]
        state["i"] += 1
        return resp

    return transport


def test_source_polls_until_completed():
    rows = [{"x": 1}]
    src = RestPollingSource(
        _scripted_transport([
            {"state": "QUERY_STATE_PENDING"},
            {"state": "QUERY_STATE_PENDING"},
            {"state": "QUERY_STATE_COMPLETED", "result": {"rows": rows}},
        ]),
        poll_interval=0.0, sleep=lambda s: None,
    )
    assert src.fetch(42) == rows


def test_source_failure_raises():
    src = RestPollingSource(
        _scripted_transport([{"state": "QUERY_STATE_FAILED", "error": "boom"}]),
        sleep=lambda s: None,
    )
    with pytest.raises(RuntimeError, match="boom"):
        src.fetch(42)


def test_source_timeout():
    t = {"now": 0.0}

    def clock():
        t["now"] += 10.0
        return t["now"]

    src = RestPollingSource(
        _scripted_transport([{"state": "QUERY_STATE_PENDING"}]),
        max_wait_time=25.0, sleep=lambda s: None, clock=clock,
    )
    with pytest.raises(TimeoutError):
        src.fetch(42)


def test_source_parameter_injection():
    seen = {}

    def transport(method, path, body):
        if method == "POST":
            seen["body"] = body
            return {"execution_id": "e"}
        return {"state": "QUERY_STATE_COMPLETED", "result": {"rows": []}}

    src = RestPollingSource(transport, sleep=lambda s: None)
    src.fetch(7, parameters="2025-01-01")
    assert seen["body"] == {"query_parameters": {"date": "2025-01-01"}}


def test_source_http_transport_against_local_stub_server():
    """The real ``requests`` transport (r6, VERDICT #9) driven through
    a loopback HTTP stub that replays the reference API's shape:
    POST execute → execution_id, two PENDING GETs, then COMPLETED
    with rows.  Asserts the full deployable path — URL layout, JSON
    body encoding, auth header, raise_for_status — plus the env-gated
    constructor both ways (unset → None, set → live source)."""
    import http.server
    import json as _json
    import threading

    from bitcoin_datawarehouse_spark.pipeline.source import (
        http_transport,
        rest_source_from_env,
    )

    rows = [{"day": "2025-01-01", "amount_usd": 10.5}]
    seen: dict = {"polls": 0}

    class Stub(http.server.BaseHTTPRequestHandler):
        def _send(self, doc, code=200):
            body = _json.dumps(doc).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            seen["post_path"] = self.path
            seen["post_body"] = _json.loads(self.rfile.read(n))
            seen["api_key"] = self.headers.get("X-Dune-API-Key")
            self._send({"execution_id": "exec-9"})

        def do_GET(self):
            if not self.path.endswith("/results"):
                self._send({"error": "not found"}, code=404)
                return
            seen["get_path"] = self.path
            seen["polls"] += 1
            if seen["polls"] < 3:
                self._send({"state": "QUERY_STATE_PENDING"})
            else:
                self._send({
                    "state": "QUERY_STATE_COMPLETED",
                    "result": {"rows": rows},
                })

        def log_message(self, *a):  # quiet
            pass

    httpd = http.server.HTTPServer(("127.0.0.1", 0), Stub)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        env = {
            "BDS_API_BASE_URL": f"http://127.0.0.1:{port}/api/v1",
            "BDS_API_KEY": "k-123",
        }
        assert rest_source_from_env(env={}) is None  # gated off
        src = rest_source_from_env(
            env=env, poll_interval=0.0, sleep=lambda s: None
        )
        got = src.fetch(4242, parameters="2025-01-01")
        assert got == rows
        assert seen["post_path"] == "/api/v1/query/4242/execute"
        assert seen["post_body"] == {
            "query_parameters": {"date": "2025-01-01"}
        }
        assert seen["api_key"] == "k-123"
        assert seen["get_path"] == "/api/v1/execution/exec-9/results"
        assert seen["polls"] == 3

        # a non-2xx must surface, not parse
        bad = http_transport(f"http://127.0.0.1:{port}")
        import requests

        with pytest.raises(requests.HTTPError):
            bad("GET", "execution/exec-9/nonexistent", None)
    finally:
        httpd.shutdown()
        httpd.server_close()


# ---------------------------------------------------------------------------
# end-to-end pipeline runs
# ---------------------------------------------------------------------------

def _seed_jobs(spark, wh, jobs):
    JobControl(spark, wh).seed(jobs)


def test_pipeline_first_sync_then_incremental_watermark(spark, wh):
    batches = []

    def source_fn(params):
        batches.append(params)
        all_rows = [
            {"id": 1, "date": "2025-01-01", "v": 1.0},
            {"id": 2, "date": "2025-01-02", "v": 2.0},
            {"id": 3, "date": "2025-01-03", "v": 3.0},
        ]
        if params is None:
            return all_rows[:2]
        return [r for r in all_rows if r["date"] > params] + [
            {"id": 2, "date": "2025-01-02", "v": 22.0}  # overlap: update
        ]

    src = StaticSource({101: source_fn})
    _seed_jobs(spark, wh, [{
        "job_name": "j1", "query_id": 101, "target_table": "t1",
        "p_key": "id", "status": 0, "active": 1,
        "incremental_column": "date",
    }])
    pipe = Pipeline(spark, wh, src)

    r1 = pipe.run()  # first sync: no watermark → full refresh, params None
    assert [x.ok for x in r1] == [True] and batches == [None]
    assert Loader(wh, "bitcoin", "t1").get_record_count() == 2

    r2 = pipe.run()  # second: watermark pushed to source
    assert batches[1] == "2025-01-02"
    got = {r["id"]: r["v"] for r in wh.read("bitcoin", "t1").collect()}
    assert got == {1: 1.0, 2: 22.0, 3: 3.0}  # upsert, not duplicate
    assert r2[0].rows_loaded == 3
    status = pipe.control.job_status("j1")
    assert status["status"] == 1 and status["end_ts"] is not None


def test_pipeline_continue_on_error_and_ledger(spark, wh):
    def broken(params):
        raise ValueError("source exploded")

    src = StaticSource({1: broken, 2: [{"id": 1, "v": 1.0}]})
    _seed_jobs(spark, wh, [
        {"job_name": "bad", "query_id": 1, "target_table": "tb",
         "p_key": "id", "status": 0, "active": 1, "incremental_column": "v"},
        {"job_name": "good", "query_id": 2, "target_table": "tg",
         "p_key": "id", "status": 0, "active": 1, "incremental_column": "v"},
    ])
    pipe = Pipeline(spark, wh, src)
    results = pipe.run()
    assert [r.ok for r in results] == [False, True]
    bad = pipe.control.job_status("bad")
    assert bad["status"] == 2 and "source exploded" in bad["error_message"]
    assert Loader(wh, "bitcoin", "tg").get_record_count() == 1


def test_pipeline_inactive_and_select_filtering(spark, wh):
    src = StaticSource({1: [{"id": 1}], 2: [{"id": 2}], 3: [{"id": 3}]})
    _seed_jobs(spark, wh, [
        {"job_name": "a", "query_id": 1, "target_table": "ta", "p_key": "id",
         "status": 0, "active": 1, "incremental_column": "id"},
        {"job_name": "b", "query_id": 2, "target_table": "tb", "p_key": "id",
         "status": 0, "active": 0, "incremental_column": "id"},
        {"job_name": "c", "query_id": 3, "target_table": "tc", "p_key": "id",
         "status": 0, "active": 1, "incremental_column": "id"},
    ])
    pipe = Pipeline(spark, wh, src)
    results = pipe.run(select=["a"])
    assert [r.job_name for r in results] == ["a"]  # active + selected only


def test_pipeline_empty_batch_short_circuit(spark, wh):
    src = StaticSource({9: []})
    _seed_jobs(spark, wh, [{
        "job_name": "e", "query_id": 9, "target_table": "te", "p_key": "id",
        "status": 0, "active": 1, "incremental_column": "id",
    }])
    results = Pipeline(spark, wh, src).run()
    assert results[0].ok and results[0].rows_loaded == 0
    assert not wh.table_exists("bitcoin", "te")


def test_pipeline_audit_column_stamped(spark, wh):
    src = StaticSource({5: [{"id": 1, "v": 2.0}]})
    _seed_jobs(spark, wh, [{
        "job_name": "au", "query_id": 5, "target_table": "tau", "p_key": "id",
        "status": 0, "active": 1, "incremental_column": "id",
    }])
    Pipeline(spark, wh, src).run()
    df = wh.read("bitcoin", "tau")
    assert "etl_updated_ts" in df.columns
    assert df.filter(F.col("etl_updated_ts").isNotNull()).count() == 1


def test_compaction_reduces_files_preserves_rows(spark, wh):
    from bitcoin_datawarehouse_spark.pipeline.catalog import Warehouse  # noqa: F401

    ld = Loader(wh, "bitcoin", "cmp")
    for i in range(6):  # six appends → many small files
        wh.append(rows_df(spark, [{"id": i * 10 + j, "v": float(j)} for j in range(5)]),
                  "bitcoin", "cmp")
    before, after = wh.compact("bitcoin", "cmp")
    assert before > after == 1  # tiny table compacts to one file
    assert ld.get_record_count() == 30


def test_lakehouse_pair_roots(spark, tmp_path):
    """Lake + warehouse as two catalog roots (reference database.py:
    35-74): raw lands in the lake, curated in the warehouse, and the
    same-root default reproduces the reference's one-host deployment."""
    from bitcoin_datawarehouse_spark.pipeline import lakehouse_pair

    lake, dw = lakehouse_pair(
        spark, str(tmp_path / "lake"), str(tmp_path / "dw")
    )
    raw = rows_df(spark, [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}])
    lake.write_atomic(raw, "staging", "raw_rows")
    curated = lake.read("staging", "raw_rows").filter(F.col("id") > 1)
    dw.write_atomic(curated, "bitcoin", "curated_rows")
    assert lake.table_exists("staging", "raw_rows")
    assert not dw.table_exists("staging", "raw_rows")  # separate namespaces
    assert dw.read("bitcoin", "curated_rows").count() == 1

    # same-root default: both handles address one store (the reference's
    # two engines point at one host)
    lake2, dw2 = lakehouse_pair(spark, str(tmp_path / "one"))
    lake2.write_atomic(raw, "s", "t")
    assert dw2.table_exists("s", "t")


def test_compaction_preserves_partitioned_layout(spark, wh):
    """compact() on a Hive-partitioned table must keep the col=value
    directory layout (and its pruning) — not flatten it to one file."""
    rows = [
        {"id": d * 10 + i, "day": f"2025-01-0{d}", "v": float(i)}
        for d in (1, 2)
        for i in range(4)
    ]
    for chunk in (rows[:4], rows[4:]):  # two writes → several small files
        wh.create_schema("bitcoin")
        rows_df(spark, chunk).write.mode("append").partitionBy("day").parquet(
            str(wh.table_path("bitcoin", "pcmp"))
        )
    before, after = wh.compact("bitcoin", "pcmp")
    assert before >= after >= 2  # ≥1 file per partition, fewer than before
    p = wh.table_path("bitcoin", "pcmp")
    assert (p / "day=2025-01-01").is_dir() and (p / "day=2025-01-02").is_dir()
    assert wh.read("bitcoin", "pcmp").count() == 8
    assert "day" in wh.read("bitcoin", "pcmp").columns


def test_compaction_preserves_multilevel_partitioned_layout(spark, wh):
    """Regression: table_exists_partitioned probed only ONE directory
    level, so a day=*/hour=* table compacted to an unpartitioned flat
    file — silently destroying two levels of pruning."""
    rows = [
        {"id": d * 100 + h * 10 + i, "day": f"2025-02-0{d}", "hour": h,
         "v": float(i)}
        for d in (1, 2)
        for h in (0, 1)
        for i in range(3)
    ]
    wh.create_schema("bitcoin")
    for chunk in (rows[:6], rows[6:]):
        rows_df(spark, chunk).write.mode("append").partitionBy(
            "day", "hour"
        ).parquet(str(wh.table_path("bitcoin", "mcmp")))
    assert wh.table_exists_partitioned("bitcoin", "mcmp")
    wh.compact("bitcoin", "mcmp")
    p = wh.table_path("bitcoin", "mcmp")
    assert (p / "day=2025-02-01" / "hour=0").is_dir()
    assert (p / "day=2025-02-02" / "hour=1").is_dir()
    df = wh.read("bitcoin", "mcmp")
    assert df.count() == 12
    assert {"day", "hour"} <= set(df.columns)


def test_quality_verify_timeout_raises_not_hangs(spark):
    """The bounded metrics read must RAISE when no action has executed
    the observed plan — the old executor-context version deadlocked in
    shutdown(wait=True) joining the still-blocked reader thread."""
    import time as _time

    from bitcoin_datawarehouse_spark.pipeline.quality import (
        QualityError,
        QualityGate,
        expect_min_rows,
    )

    checked = QualityGate([expect_min_rows(1)]).attach(
        spark.range(3).toDF("id")
    )
    t0 = _time.monotonic()
    with pytest.raises(QualityError, match="no action has executed"):
        checked.verify(timeout_s=1.0)
    assert _time.monotonic() - t0 < 10  # returned promptly, no deadlock


def test_strict_schema_refuses_drift(spark, wh):
    ld = Loader(wh, "bitcoin", "strict")
    ld.load_incremental(rows_df(spark, [{"id": 1, "a": "x"}]), ["id"])
    with pytest.raises(ValueError, match="schema drift"):
        ld.load_incremental(
            rows_df(spark, [{"id": 2, "b": 7}]), ["id"], strict_schema=True
        )
    # non-strict still tolerates the same batch
    ld.load_incremental(rows_df(spark, [{"id": 2, "b": 7}]), ["id"])
    assert ld.get_record_count() == 2


def test_warehouse_lock_mutual_exclusion(spark, wh):
    with wh.lock("pipeline", timeout_s=5):
        with pytest.raises(TimeoutError, match="held by pid"):
            with wh.lock("pipeline", timeout_s=0.3):
                pass
    # released → acquirable again
    with wh.lock("pipeline", timeout_s=1):
        pass


def test_warehouse_lock_is_free_after_its_holder_dies(wh):
    """A holder SIGKILLed inside the lock (no ``finally`` runs) and a
    ``.lock_*`` directory left by the earlier mkdir-based lock both
    leave the lock free: the next caller takes it at once instead of
    waiting out its timeout."""
    import signal
    import subprocess
    import sys
    from pathlib import Path

    legacy = wh.root / ".lock_pipeline"
    legacy.mkdir()
    (legacy / "pid").write_text("999999")
    t0 = time.monotonic()
    with wh.lock("pipeline", timeout_s=1.0):
        pass
    assert time.monotonic() - t0 < 0.5

    code = (
        "import os, signal, sys\n"
        "from bitcoin_datawarehouse_spark.pipeline.catalog import Warehouse\n"
        "with Warehouse(None, sys.argv[1]).lock('pipeline'):\n"
        "    os.kill(os.getpid(), signal.SIGKILL)\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code, str(wh.root)],
        cwd=Path(__file__).resolve().parents[1],
        timeout=120,
    )
    assert proc.returncode == -signal.SIGKILL
    t0 = time.monotonic()
    with wh.lock("pipeline", timeout_s=1.0):
        pass
    assert time.monotonic() - t0 < 0.5


def test_partitioned_merge_touches_only_batch_partitions(spark, wh):
    import os

    ld = Loader(wh, "bitcoin", "fact")
    day1 = [{"id": i, "day": "2025-01-01", "v": float(i)} for i in range(4)]
    day2 = [{"id": 10 + i, "day": "2025-01-02", "v": float(i)} for i in range(4)]
    ld.load_incremental_partitioned(
        rows_df(spark, day1 + day2), ["id"], partition_col="day"
    )
    p1 = wh.table_path("bitcoin", "fact") / "day=2025-01-01"
    files_before = {f: os.path.getmtime(p1 / f) for f in os.listdir(p1)
                    if f.endswith(".parquet")}

    # batch touching ONLY day 2: update id=10, insert id=20
    batch = [
        {"id": 10, "day": "2025-01-02", "v": 99.0},
        {"id": 20, "day": "2025-01-02", "v": 5.0},
    ]
    ld.load_incremental_partitioned(
        rows_df(spark, batch), ["id"], partition_col="day"
    )
    files_after = {f: os.path.getmtime(p1 / f) for f in os.listdir(p1)
                   if f.endswith(".parquet")}
    assert files_before == files_after  # day-1 files physically untouched

    got = {r["id"]: r["v"] for r in wh.read("bitcoin", "fact").collect()}
    assert got[10] == 99.0 and got[20] == 5.0  # upsert + insert in day 2
    assert all(got[11 + i] == float(1 + i) for i in range(3))  # day 2 others
    assert all(got[i] == float(i) for i in range(4))  # day 1 intact
    assert len(got) == 9  # 4 (day1) + 4 original day2 rows + 1 insert


def test_partitioned_merge_new_and_mixed_partition_batches(spark, wh):
    """The pruned touched-dir read (r6): a batch whose partition
    values have NO existing directory must merge as a pure insert
    (the read-empty branch), and a MIXED batch (one existing day
    updated + one brand-new day) must upsert the former and append
    the latter in a single call."""
    ld = Loader(wh, "bitcoin", "prune")
    day1 = [{"id": i, "day": "2025-01-01", "v": float(i)} for i in range(3)]
    ld.load_incremental_partitioned(
        rows_df(spark, day1), ["id"], partition_col="day"
    )
    # batch of ONLY a new day: no touched dir exists yet
    ld.load_incremental_partitioned(
        rows_df(spark, [{"id": 50, "day": "2025-01-05", "v": 5.0}]),
        ["id"],
        partition_col="day",
    )
    got = {r["id"]: r for r in wh.read("bitcoin", "prune").collect()}
    assert len(got) == 4 and str(got[50]["day"]) == "2025-01-05"

    # mixed batch: update id=0 in day 1, insert a new day 2025-01-09
    ld.load_incremental_partitioned(
        rows_df(
            spark,
            [
                {"id": 0, "day": "2025-01-01", "v": 99.0},
                {"id": 90, "day": "2025-01-09", "v": 9.0},
            ],
        ),
        ["id"],
        partition_col="day",
    )
    got = {r["id"]: r for r in wh.read("bitcoin", "prune").collect()}
    assert len(got) == 5
    assert got[0]["v"] == 99.0 and str(got[0]["day"]) == "2025-01-01"
    assert str(got[90]["day"]) == "2025-01-09"
    assert got[1]["v"] == 1.0 and got[2]["v"] == 2.0  # untouched rows


def test_partitioned_merge_refuses_flat_target(spark, wh):
    """A partitioned merge into a FLAT table would orphan the flat files
    beside its new ``col=value`` directories, and reads would return the
    batch alone.  It must refuse and leave the table as it was."""
    ld = Loader(wh, "bitcoin", "flat")
    ld.load_full_refresh(spark.range(10))
    with pytest.raises(ValueError, match="flat layout"):
        ld.load_incremental_partitioned(
            spark.range(5, 8).withColumn("d", F.col("id") % 2), ["id"], "d"
        )
    assert ld.get_record_count() == 10


def test_partitioned_merge_survives_hive_escaped_partition_values(
    spark, wh
):
    """Review-caught data-loss shape: Spark %XX-escapes special chars
    in partition DIR names (':' in a timestamp-like value, literal
    '%'), so a raw-value path probe would treat the existing
    partition as new and the dynamic overwrite would drop every
    pre-existing row not in the batch.  The names-only scandir +
    unquote lookup must find such partitions."""
    ld = Loader(wh, "bitcoin", "esc")
    weird = ["2025-01-01 00:00:00", "a%b", "x:y"]
    seed = [
        {"id": 10 * i + j, "part": p, "v": float(j)}
        for i, p in enumerate(weird)
        for j in range(3)
    ]
    ld.load_incremental_partitioned(
        rows_df(spark, seed), ["id"], partition_col="part"
    )
    # dirs really are escaped on disk (the hazard exists)
    import os

    names = os.listdir(wh.table_path("bitcoin", "esc"))
    assert any("%3A" in n for n in names), names

    # merge ONE updated row + ONE new row into each weird partition
    batch = []
    for i, p in enumerate(weird):
        batch.append({"id": 10 * i, "part": p, "v": 99.0})      # update
        batch.append({"id": 10 * i + 7, "part": p, "v": 7.0})   # insert
    ld.load_incremental_partitioned(
        rows_df(spark, batch), ["id"], partition_col="part"
    )
    got = {r["id"]: r for r in wh.read("bitcoin", "esc").collect()}
    assert len(got) == len(seed) + len(weird)  # nothing lost
    for i, p in enumerate(weird):
        assert got[10 * i]["v"] == 99.0
        assert got[10 * i + 1]["v"] == 1.0  # pre-existing row survived
        assert got[10 * i + 7]["v"] == 7.0
        assert got[10 * i]["part"] == p

    # the matview read paths resolve the same escaped directories: a
    # state_partition_key view over the escaped key, maintained through
    # the partitioned merge (pruned base reads before and after the
    # merge, touched-state read, partition overwrite of the state)
    from bitcoin_datawarehouse_spark.pipeline.matview import (
        MaterializedAggView,
        Measure,
        sync_views_through_partitioned_merge,
    )

    view = MaterializedAggView(
        wh, "mv", "esc_roll", ["part"],
        [Measure("total", "sum", "v"), Measure("n", "count", None)],
        state_partition_key="part",
    )
    base = Loader(wh, "bitcoin", "esc_mv")
    for rows in (seed, batch):
        sync_views_through_partitioned_merge(
            base, [view], rows_df(spark, rows), ["id"], "part"
        )
    names = os.listdir(wh.table_path("mv", "esc_roll"))
    assert any("%3A" in n for n in names), names
    rolled = {r["part"]: (r["total"], r["n"]) for r in view.read().collect()}
    assert rolled == {p: (99.0 + 1.0 + 2.0 + 7.0, 4) for p in weird}


def test_partitioned_write_hot_partition_split(spark, wh):
    """max_records_per_file is the hot-day lever: with the default a
    whole partition is one task's single file; with a record cap the
    writer rolls files within the partition dir — results identical,
    multiple files per hot partition."""
    import os

    rows = [
        {"id": i, "day": "2025-02-0%d" % (1 + i % 2), "v": float(i)}
        for i in range(400)
    ]
    ld1 = Loader(wh, "bitcoin", "hot1")
    ld1.load_incremental_partitioned(
        rows_df(spark, rows), ["id"], partition_col="day"
    )
    ld4 = Loader(wh, "bitcoin", "hot4")
    ld4.load_incremental_partitioned(
        rows_df(spark, rows),
        ["id"],
        partition_col="day",
        max_records_per_file=50,
    )

    def files_in(table, day):
        p = wh.table_path("bitcoin", table) / f"day={day}"
        return [f for f in os.listdir(p) if f.endswith(".parquet")]

    for day in ("2025-02-01", "2025-02-02"):
        assert len(files_in("hot1", day)) == 1
        assert len(files_in("hot4", day)) == 4  # 200 rows / 50-cap
    a = sorted(map(tuple, wh.read("bitcoin", "hot1").collect()))
    b = sorted(map(tuple, wh.read("bitcoin", "hot4").collect()))
    assert a == b and len(a) == 400


def test_partitioned_merge_schema_evolution_behavior_and_read_path(
    spark, wh
):
    """Pin the documented caveat (loader.py docstring): a batch with
    NEW columns rewrites only the touched partitions, so old
    partitions stay on the old footer.  (a) the failure shape: a
    plain parquet read may resolve to one footer and silently drop
    the new column from old-footer rows or the old read misses it
    entirely; (b) the sanctioned read path: ``mergeSchema`` resolves
    the union schema with nulls where a partition predates the
    column."""
    ld = Loader(wh, "bitcoin", "evo")
    day1 = [{"id": i, "day": "2025-01-01", "v": float(i)} for i in range(3)]
    ld.load_incremental_partitioned(
        rows_df(spark, day1), ["id"], partition_col="day"
    )
    # evolve: day-2 batch carries a NEW column
    day2 = [
        {"id": 10 + i, "day": "2025-01-02", "v": float(i), "src": "api"}
        for i in range(3)
    ]
    ld.load_incremental_partitioned(
        rows_df(spark, day2), ["id"], partition_col="day"
    )
    path = str(wh.table_path("bitcoin", "evo"))

    # (a) failure shape, pinned: without mergeSchema Spark takes ONE
    # representative footer — whichever it picks, the result cannot
    # faithfully expose both partitions' columns
    plain = spark.read.parquet(path)
    assert set(plain.columns) in (
        {"id", "day", "v"},          # old footer won: src silently gone
        {"id", "day", "v", "src"},   # new footer won: old rows null-fill
    )

    # (b) the sanctioned read path
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "day", "v", "src"}
    rows = {r["id"]: r for r in merged.collect()}
    assert len(rows) == 6
    assert all(rows[i]["src"] is None for i in range(3))  # pre-evolution
    assert all(rows[10 + i]["src"] == "api" for i in range(3))


def test_snapshot_rollback_recovers_bad_batch(spark, tmp_path):
    import time as _time

    wh = Warehouse(spark, str(tmp_path / "vwh"), keep_versions=3)
    ld = Loader(wh, "bitcoin", "snap")
    ld.load_incremental(rows_df(spark, [{"id": 1, "v": 1.0}]), ["id"])
    _time.sleep(0.01)
    ld.load_incremental(rows_df(spark, [{"id": 2, "v": 2.0}]), ["id"])
    good = {r["id"]: r["v"] for r in wh.read("bitcoin", "snap").collect()}
    _time.sleep(0.01)
    # bad batch corrupts id=1
    ld.load_incremental(rows_df(spark, [{"id": 1, "v": -999.0}]), ["id"])
    assert {r["id"]: r["v"] for r in wh.read("bitcoin", "snap").collect()}[1] == -999.0

    before = wh.list_versions("bitcoin", "snap")
    restored = wh.rollback("bitcoin", "snap")
    after = wh.list_versions("bitcoin", "snap")
    # the restored version is live again, the rolled-away state is the
    # newest snapshot
    assert restored == before[-1] and restored not in after
    assert after[-1] not in before
    bad = wh.read_version("bitcoin", "snap", after[-1])
    assert {r["id"]: r["v"] for r in bad.collect()}[1] == -999.0
    assert {r["id"]: r["v"] for r in wh.read("bitcoin", "snap").collect()} == good

    # old snapshots readable; vacuum reclaims them
    versions = wh.list_versions("bitcoin", "snap")
    assert versions  # the bad state is itself snapshotted
    assert wh.read_version("bitcoin", "snap", versions[-1]).count() >= 1
    removed = wh.vacuum("bitcoin", "snap")
    assert removed == len(versions)
    assert wh.list_versions("bitcoin", "snap") == []


def test_snapshot_retention_prunes(spark, tmp_path):
    import time as _time

    wh = Warehouse(spark, str(tmp_path / "vwh2"), keep_versions=2)
    ld = Loader(wh, "bitcoin", "ret")
    for i in range(5):
        ld.load_full_refresh(rows_df(spark, [{"id": i}]))
        _time.sleep(0.01)
    assert len(wh.list_versions("bitcoin", "ret")) == 2  # pruned to N


def test_quality_gate_single_pass(spark, wh):
    from bitcoin_datawarehouse_spark.pipeline.quality import (
        QualityError,
        QualityGate,
        expect_between,
        expect_min_rows,
        expect_no_nulls,
        expect_mostly_unique,
    )

    good = rows_df(spark, [
        {"id": 1, "amount": 5.0}, {"id": 2, "amount": 7.5},
    ])
    gate = QualityGate([
        expect_min_rows(1),
        expect_no_nulls("id"),
        expect_between("amount", 0, 10),
        expect_mostly_unique("id"),
    ])
    checked = gate.attach(good)
    Loader(wh, "q", "ok").load_full_refresh(checked.df)  # ONE pass
    metrics = checked.verify()
    assert metrics["min_rows_1"] == 2 and metrics["no_nulls_id"] == 0

    bad = rows_df(spark, [
        {"id": 1, "amount": 99.0},   # out of range
        {"id": 1, "amount": None},   # duplicate key
        {"id": None, "amount": 3.0}, # null key
    ])
    checked_bad = gate.attach(bad)
    Loader(wh, "q", "bad").load_full_refresh(checked_bad.df)
    with pytest.raises(QualityError) as ei:
        checked_bad.verify()
    msg = str(ei.value)
    assert "no NULL id" in msg and "amount in" in msg and "mostly unique" in msg


def test_keyless_incremental_does_not_destroy_history(spark, wh):
    """A job with an incremental column but NO merge key must fetch
    everything each run (full replace of full data), never replace the
    table with a delta-only fetch."""
    calls = []

    def src_fn(params):
        calls.append(params)
        rows = [{"seq": 1, "v": 1.0}, {"seq": 2, "v": 2.0}]
        if params is not None:  # would be a delta-only fetch
            return [r for r in rows if r["seq"] > int(float(params))]
        return rows

    src = StaticSource({7: src_fn})
    JobControl(spark, wh).seed([{
        "job_name": "nokey", "query_id": 7, "target_table": "tnk",
        "p_key": "", "status": 0, "active": 1, "incremental_column": "seq",
    }])
    pipe = Pipeline(spark, wh, src)
    pipe.run()
    pipe.run()  # second run must NOT push a watermark (no merge keys)
    assert calls == [None, None]
    assert Loader(wh, "bitcoin", "tnk").get_record_count() == 2


def test_replay_source_numeric_watermark(tmp_path):
    import json as _json

    from bitcoin_datawarehouse_spark.pipeline import FileReplaySource

    rows = [{"height": h, "v": h * 1.0} for h in [8, 9, 10, 11, 100]]
    (tmp_path / "5.json").write_text(_json.dumps({"result": {"rows": rows}}))
    src = FileReplaySource(str(tmp_path), param_column="height")
    got = sorted(r["height"] for r in src.fetch(5, parameters="9"))
    assert got == [10, 11, 100]  # numeric, not lexicographic ('10' < '9')


def test_rows_to_df_accepts_bare_dates(spark):
    import datetime as _dt

    df = rows_to_df(spark, [{"id": 1, "d": _dt.date(2024, 1, 2)}])
    [row] = df.collect()
    assert row["d"] == _dt.datetime(2024, 1, 2)  # widened to midnight


def test_jsonl_shard_export_roundtrip(spark, wh, tmp_path):
    """Training-shard export: n gzipped JSONL files, round-trips
    losslessly, shard count as requested."""
    df = rows_df(
        spark,
        [{"doc_id": i, "text": f"doc {i}", "split": "train"} for i in range(40)],
    )
    wh.export_jsonl_shards(df, "export", "shards", n_shards=4, order_col="doc_id")
    path = wh.table_path("export", "shards")
    files = sorted(p.name for p in path.glob("part-*.json.gz"))
    assert len(files) == 4, files
    back = wh.read_jsonl(
        "export", "shards", "doc_id BIGINT, text STRING, split STRING"
    )
    assert back.count() == 40
    assert {r["doc_id"] for r in back.collect()} == set(range(40))


def test_tar_shard_export_roundtrip_and_determinism(spark, wh):
    """WebDataset-style tar shards: every (key, payload, meta) row
    survives the export→read round trip; shard membership is
    md5-deterministic; normalized tar headers make shard bytes
    reproducible across exports."""
    import hashlib
    from pathlib import Path

    from bitcoin_datawarehouse_spark.tables import load_table
    from tests.conftest import SF_SMALL

    docs = (
        load_table(spark, SF_SMALL, "documents")
        .limit(120)
        .select(
            "doc_id",
            F.encode("text", "UTF-8").alias("payload"),
            "source",
            "lang",
        )
    )
    wh.export_tar_shards(
        docs, "exports", "docs_tar", n_shards=4, meta_cols=["source", "lang"]
    )
    shard_dir = wh.table_path("exports", "docs_tar")
    tars = sorted(shard_dir.glob("*.tar"))
    assert len(tars) == 4
    digests_a = [hashlib.md5(Path(t).read_bytes()).hexdigest() for t in tars]

    back = wh.read_tar_shards(
        "exports", "docs_tar", meta_schema="source string, lang string"
    )
    got = {
        int(r["key"]): (bytes(r["payload"]), r["source"], r["lang"])
        for r in back.collect()
    }
    want = {
        r["doc_id"]: (bytes(r["payload"]), r["source"], r["lang"])
        for r in docs.collect()
    }
    assert got == want

    # byte-reproducible: a second export writes identical shards
    wh.export_tar_shards(
        docs, "exports", "docs_tar", n_shards=4, meta_cols=["source", "lang"]
    )
    digests_b = [
        hashlib.md5(Path(t).read_bytes()).hexdigest()
        for t in sorted(shard_dir.glob("*.tar"))
    ]
    assert digests_a == digests_b


def test_incremental_large_batch_takes_shuffle_anti_join(spark, wh, monkeypatch):
    """Above BROADCAST_BATCH_MAX_ROWS the merge must NOT broadcast the
    batch (a 100 GB ingest batch force-broadcast would OOM executors):
    force the threshold to 0 so the shuffle-anti-join branch runs, and
    assert merge semantics are unchanged on that path."""
    from bitcoin_datawarehouse_spark.pipeline import loader as loader_mod

    monkeypatch.setattr(loader_mod, "BROADCAST_BATCH_MAX_ROWS", 0)
    ld = Loader(wh, "bitcoin", "bigbatch")
    ld.load_incremental(
        rows_df(spark, [{"id": 1, "v": 1.0}, {"id": 2, "v": 2.0}]),
        unique_keys=["id"],
    )
    ld.load_incremental(
        rows_df(spark, [{"id": 2, "v": 22.0}, {"id": 3, "v": 3.0}]),
        unique_keys=["id"],
    )
    got = {r["id"]: r["v"] for r in wh.read("bitcoin", "bigbatch").collect()}
    assert got == {1: 1.0, 2: 22.0, 3: 3.0}


# ---------------------------------------------------------------------------
# persisted LSH dedup index (operators/lsh_index.py)
# ---------------------------------------------------------------------------

def _docsets_for(spark, rows):
    """Kernel-shaped docsets frame for synthetic (doc_id, text) rows."""
    import tempfile

    from bitcoin_datawarehouse_spark.operators.dedup import doc_shingle_sets

    d = tempfile.mkdtemp()
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{d}/documents.parquet")
    return doc_shingle_sets(spark, d)


_CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bend"),
    (3, "completely unrelated text about spark shuffle partitions and joins"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank "
        "today"),
    (5, "another document with entirely different words talking about "
        "parquet files"),
    (6, "completely unrelated text about spark shuffle partitions and "
        "broadcast joins"),
]


def test_lsh_index_sequential_batches_match_one_shot(spark, wh, tmp_path):
    """Two id-ordered sequential ingests against the persisted index
    must produce BIT-IDENTICAL decisions to ingesting the whole corpus
    as one batch (arrival-ordered semantics: dropped docs still index;
    batch-internal earlier-id docs decide later ones)."""
    from bitcoin_datawarehouse_spark.operators.lsh_index import LshDedupIndex
    from bitcoin_datawarehouse_spark.pipeline.catalog import Warehouse

    full = _docsets_for(spark, _CORPUS).cache()
    full.count()

    seq = LshDedupIndex(Warehouse(spark, str(tmp_path / "seq")))
    d1 = seq.ingest_batch(full.filter(F.col("doc_id") <= 3)).collect()
    d2 = seq.ingest_batch(full.filter(F.col("doc_id") > 3)).collect()
    got = {r["doc_id"]: tuple(r) for r in d1 + d2}

    one = LshDedupIndex(Warehouse(spark, str(tmp_path / "one")))
    want = {
        r["doc_id"]: tuple(r) for r in one.ingest_batch(full).collect()
    }
    full.unpersist()
    assert got == want
    # sanity on the semantics themselves: 2 dups of 1 (earlier id wins),
    # 6 dups of 3, the rest clean
    assert want[1][1] is False and want[3][1] is False
    assert want[2][1] is True and want[2][2] == 1
    assert want[6][1] is True and want[6][2] == 3


def test_lsh_index_remove_unindexes_and_reingest_is_fresh(spark, wh, tmp_path):
    """The removal loop: (a) after ``remove``, a future arrival no
    longer matches the removed docs — decisions identical to an index
    that never held them (merge-on-read path, no physical apply);
    (b) re-ingesting a removed doc_id applies removals physically
    first and decides FRESH against the current index; (c) exactly
    one physical copy of the re-ingested doc's rows survives."""
    from bitcoin_datawarehouse_spark.operators.lsh_index import LshDedupIndex
    from bitcoin_datawarehouse_spark.pipeline.catalog import Warehouse

    full = _docsets_for(spark, _CORPUS).cache()
    full.count()

    idx = LshDedupIndex(Warehouse(spark, str(tmp_path / "a")))
    idx.ingest_batch(full.filter(F.col("doc_id") <= 3))  # 2 dups of 1
    idx.remove([1, 2])

    # doc 4 is a near-dup of 1 (and close to 2) — with both removed it
    # must decide exactly as in a twin index that never indexed them
    got = sorted(
        map(tuple, idx.ingest_batch(full.filter(F.col("doc_id") == 4)).collect())
    )
    twin = LshDedupIndex(Warehouse(spark, str(tmp_path / "b")))
    twin.ingest_batch(full.filter(F.col("doc_id") == 3))
    want = sorted(
        map(tuple, twin.ingest_batch(full.filter(F.col("doc_id") == 4)).collect())
    )
    assert got == want
    assert got[0][1] is False  # clean — its only matches were removed

    # sidecar still pending (merge-on-read, no physical apply yet)
    assert idx.wh.table_exists(idx.schema, idx.removed_table)

    # re-ingest of removed doc 1: physical apply fires, then a FRESH
    # decision against the current index — 4 (its near-dup) is now the
    # earlier arrival, so 1 comes back as a duplicate OF 4
    d1 = {r["doc_id"]: r for r in idx.ingest_batch(
        full.filter(F.col("doc_id") == 1)
    ).collect()}
    assert d1[1]["is_dup"] is True and d1[1]["match_id"] == 4
    assert not idx.wh.table_exists(idx.schema, idx.removed_table)
    # exactly one physical copy of doc 1; doc 2 is gone for good
    docsets = idx.wh.read(idx.schema, idx.docsets_table)
    assert docsets.filter(F.col("doc_id") == 1).count() == 1
    assert docsets.filter(F.col("doc_id") == 2).count() == 0
    full.unpersist()


def test_lsh_index_decide_plan_reads_index_not_corpus(spark, wh, tmp_path):
    """The per-ingest decision plan must read the persisted band/docset
    tables — never re-tokenize or even scan the raw documents table."""
    from bitcoin_datawarehouse_spark.operators.lsh_index import LshDedupIndex
    from bitcoin_datawarehouse_spark.pipeline.catalog import Warehouse
    from bitcoin_datawarehouse_spark.plans.audit import df_plan

    idx = LshDedupIndex(Warehouse(spark, str(tmp_path / "w")))
    idx.ingest_batch(_docsets_for(spark, _CORPUS[:4]))

    # a later batch arriving as an already-shaped frame (production: the
    # kernel ran at crawl-extract time): the decision plan must contain
    # only warehouse scans + this in-memory frame
    batch = spark.createDataFrame(
        [(10, "a b c" + "\x01" + "b c d", 2, ["k1", "k2", "k3", "k4"])],
        "doc_id long, shs string, sz long, band_keys array<string>",
    )
    plan = df_plan(idx.decide_batch(batch))
    assert "documents.parquet" not in plan
    assert "documents_bands" in plan
    assert "documents_docsets" in plan
    assert "mapInPandas" not in plan.lower().replace("_", "")


def test_lsh_index_replay_after_partial_append_converges(
    spark, tmp_path, monkeypatch
):
    """Crash between the bands append and the docsets append (the
    ADVICE-flagged window): the replayed ingest must (a) not
    self-match batch docs against their own half-written band rows,
    (b) not duplicate those band rows (idempotent _append), and
    (c) converge decisions + index state to the un-crashed run's."""
    from bitcoin_datawarehouse_spark.operators.lsh_index import LshDedupIndex
    from bitcoin_datawarehouse_spark.pipeline.catalog import Warehouse

    full = _docsets_for(spark, _CORPUS).cache()
    full.count()
    b1 = full.filter(F.col("doc_id") <= 3)
    b2 = full.filter(F.col("doc_id") > 3)

    # the un-crashed twin
    twin = LshDedupIndex(Warehouse(spark, str(tmp_path / "twin")))
    twin.ingest_batch(b1)
    want = {r["doc_id"]: tuple(r) for r in twin.ingest_batch(b2).collect()}

    idx = LshDedupIndex(Warehouse(spark, str(tmp_path / "crash")))
    idx.ingest_batch(b1)

    # crash the second ingest between the two appends: the docsets
    # append is the first wh.append call targeting the docsets table
    real_append = idx.wh.append

    def crashing_append(df, schema, table):
        if table == idx.docsets_table:
            raise RuntimeError("simulated crash before docsets append")
        real_append(df, schema, table)

    monkeypatch.setattr(idx.wh, "append", crashing_append)
    with pytest.raises(RuntimeError, match="simulated crash"):
        idx.ingest_batch(b2)
    monkeypatch.setattr(idx.wh, "append", real_append)

    # state after the crash: b2's bands are in the index, docsets not
    assert idx._bands().filter(F.col("doc_id") > 3).count() > 0
    assert idx._docsets().filter(F.col("doc_id") > 3).count() == 0

    # replay (what the stream wrapper does: b2 still looks fresh)
    got = {r["doc_id"]: tuple(r) for r in idx.ingest_batch(b2).collect()}
    full.unpersist()
    assert got == want  # no self-matches: doc 6 matches 3, not itself

    def state(index):
        return (
            sorted(map(tuple, index._bands().collect())),
            sorted(map(tuple, index._docsets().collect())),
        )

    assert state(idx) == state(twin)  # no duplicated band rows


def test_lsh_index_auto_compact_bounds_files_and_preserves_decisions(
    spark, tmp_path
):
    """Many small ingests accrete one-file-per-append; with
    auto_compact_files set the index compacts itself mid-loop and the
    NEXT batch's decisions stay bit-identical to an uncompacted twin,
    with the parquet file count bounded."""
    from bitcoin_datawarehouse_spark.operators.lsh_index import LshDedupIndex
    from bitcoin_datawarehouse_spark.pipeline.catalog import Warehouse

    rows = [
        (i, f"document number {i} about topic {i % 3} with shared "
            f"boilerplate text trailing the unique part {i * 7}")
        for i in range(1, 8)
    ]
    full = _docsets_for(spark, rows).cache()
    full.count()

    plain = LshDedupIndex(
        Warehouse(spark, str(tmp_path / "plain")), auto_compact_files=None
    )
    auto = LshDedupIndex(
        Warehouse(spark, str(tmp_path / "auto")), auto_compact_files=3
    )
    got, want = {}, {}
    for i in range(1, 8):
        b = full.filter(F.col("doc_id") == i)
        want.update(
            {r["doc_id"]: tuple(r) for r in plain.ingest_batch(b).collect()}
        )
        got.update(
            {r["doc_id"]: tuple(r) for r in auto.ingest_batch(b).collect()}
        )
    full.unpersist()
    assert got == want

    def nfiles(index, table):
        return len(
            list(index.wh.table_path(index.schema, table).glob("*.parquet"))
        )

    # uncompacted: ≥1 file per ingest; compacted: bounded by threshold
    assert nfiles(plain, plain.bands_table) >= 7
    assert nfiles(auto, auto.bands_table) < 7
    assert nfiles(auto, auto.docsets_table) < 7


# ---------------------------------------------------------------------------
# persisted bucketed IVF index (operators/ivf_index.py)
# ---------------------------------------------------------------------------

def _ivf_fixture_parts(spark):
    """Normalized fixture embeddings + the bounded query workload."""
    from bitcoin_datawarehouse_spark.operators.embeddings_extra import _normed
    from bitcoin_datawarehouse_spark.operators.similarity import N_QUERIES
    from tests.conftest import SF_SMALL

    emb = _normed(spark, SF_SMALL).select("vec_id", "e")
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    return emb, queries


def test_ivf_index_search_matches_recomputed_plan(spark, tmp_path):
    """Search over the persisted bucketed index must be BIT-IDENTICAL
    to the plan-recomputed ``similarity_ivf_topk`` gate — the
    persisted layout is a physical change only."""
    from bitcoin_datawarehouse_spark.operators.ivf_index import IvfIndex
    from bitcoin_datawarehouse_spark.pipeline.catalog import Warehouse
    from bitcoin_datawarehouse_spark.registry import QUERIES
    from tests.conftest import SF_SMALL

    emb, queries = _ivf_fixture_parts(spark)
    idx = IvfIndex(
        Warehouse(spark, str(tmp_path / "wh")), schema="ivf_t1", name="e"
    )
    idx.build(emb)
    got = sorted(map(tuple, idx.search(queries).collect()))
    want = sorted(
        map(tuple, QUERIES["similarity_ivf_topk"](spark, SF_SMALL).collect())
    )
    assert got == want


def test_ivf_index_search_plan_has_no_corpus_exchange(spark, tmp_path):
    """The entire point of the persisted bucketed layout
    (embeddings_extra.py:635-644, now code): the SEARCH plan contains
    zero corpus-sized exchanges — no round-robin repartition, no
    corpus hash shuffle — and bucket-prunes the lists scan to the
    probed centroids.  The only Exchange shuffles the partial-top-k
    rows (batches × queries × k) into the final window."""
    from bitcoin_datawarehouse_spark.operators.ivf_index import IvfIndex
    from bitcoin_datawarehouse_spark.pipeline.catalog import Warehouse
    from bitcoin_datawarehouse_spark.plans.audit import df_plan

    emb, queries = _ivf_fixture_parts(spark)
    idx = IvfIndex(
        Warehouse(spark, str(tmp_path / "wh")), schema="ivf_t2", name="e"
    )
    idx.build(emb)
    plan = df_plan(idx.search(queries))

    # probe assignment is a KERNEL over the distributed query frame
    # (r6: no driver collect of query vectors) — the probe stage is a
    # MapInPandas whose input is the caller's query scan, never a
    # LocalTableScan of driver-materialized probe rows
    assert "probe_gen" in plan
    assert "LocalTableScan" not in plan
    # the CORPUS side is served from the index only: the one raw
    # parquet read is the bounded query workload (its vec_id filter
    # reaches the scan), not a corpus pass
    assert plan.count("embeddings.parquet") <= 1
    if "embeddings.parquet" in plan:
        from bitcoin_datawarehouse_spark.plans.audit import (
            assert_pushed_filter,
        )

        assert_pushed_filter(plan, "vec_id", table="embeddings.parquet")
    assert "Bucketed: true" in plan
    # planning-time bucket pruning to the probed lists
    import re

    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, "bucketed scan not pruned"
    assert int(m.group(1)) < int(m.group(2))
    # exactly one shuffle, and it carries the post-kernel top-k rows
    # (keyed by query_id); everything else is broadcast
    exchanges = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(exchanges) == 1, plan
    assert "RoundRobinPartitioning" not in plan
    assert "rangepartitioning" not in plan.lower()
    assert "hashpartitioning(query_id" in plan, plan


def test_ivf_index_ingest_batches_match_one_shot_build(spark, tmp_path):
    """Mirror of test_lsh_index_sequential_batches_match_one_shot for
    the similarity domain: build on the first half of the corpus,
    ingest the second half as a batch — searches over the incremental
    index must be bit-identical to an index built one-shot on the
    full corpus (assignment against the same persisted codebook)."""
    from bitcoin_datawarehouse_spark.operators.ivf_index import IvfIndex
    from bitcoin_datawarehouse_spark.pipeline.catalog import Warehouse

    emb, queries = _ivf_fixture_parts(spark)
    n = emb.count()
    half = n // 2

    inc = IvfIndex(
        Warehouse(spark, str(tmp_path / "inc")), schema="ivf_t3", name="e"
    )
    inc.build(emb.filter(F.col("vec_id") < half))
    inc.ingest(emb.filter(F.col("vec_id") >= half))

    one = IvfIndex(
        Warehouse(spark, str(tmp_path / "one")), schema="ivf_t4", name="e"
    )
    one.build(emb)

    got = sorted(map(tuple, inc.search(queries).collect()))
    want = sorted(map(tuple, one.search(queries).collect()))
    assert got == want
    # the ingested vectors are actually searchable (some second-half
    # vec_id appears in the results)
    assert any(r[1] >= half for r in got)


def test_ivfpq_index_matches_inplan_and_incremental_ingest(
    spark, tmp_path
):
    """The ``pq`` payload, pinned on both contracts at once: (a) a
    one-shot persisted IVF-PQ index serves rows BIT-IDENTICAL to the
    plan-recomputed ``similarity_ivfpq_topk`` gate (shared oracle);
    (b) build-half-then-ingest-half is bit-identical to the one-shot
    build (assignment AND encoding against the same persisted
    codebooks)."""
    from bitcoin_datawarehouse_spark.operators.ivf_index import IvfIndex
    from bitcoin_datawarehouse_spark.pipeline.catalog import Warehouse
    from bitcoin_datawarehouse_spark.registry import QUERIES
    from tests.conftest import SF_SMALL

    emb, queries = _ivf_fixture_parts(spark)
    n = emb.count()
    half = n // 2

    one = IvfIndex(
        Warehouse(spark, str(tmp_path / "one")),
        schema="ivfpq_t1",
        name="e",
        payload="pq",
    )
    one.build(emb)
    want = sorted(map(tuple, one.search(queries).collect()))

    inplan = sorted(
        map(
            tuple,
            QUERIES["similarity_ivfpq_topk"](spark, SF_SMALL).collect(),
        )
    )
    assert want == inplan

    inc = IvfIndex(
        Warehouse(spark, str(tmp_path / "inc")),
        schema="ivfpq_t2",
        name="e",
        payload="pq",
    )
    inc.build(emb.filter(F.col("vec_id") < half))
    inc.ingest(emb.filter(F.col("vec_id") >= half))
    got = sorted(map(tuple, inc.search(queries).collect()))
    assert got == want
    assert any(r[1] >= half for r in got)


def test_ivf_index_compact_preserves_search(spark, tmp_path):
    """Ingest-accreted small files compact into one bucketed rewrite;
    searches stay bit-identical and the file count drops.

    r12: appends are hash-CLUSTERED on the bucket column (one file per
    touched bucket per generation), so contiguous vec_id ranges whose
    buckets happen to be disjoint from the base's no longer fragment —
    and compact over them is legitimately a no-op on the file count.
    The ingests here are MODULO slices instead: every batch spreads
    over the whole bucket space, so each generation adds files to the
    same buckets and the compacted rewrite must strictly reduce."""
    import glob

    from bitcoin_datawarehouse_spark.operators.ivf_index import IvfIndex
    from bitcoin_datawarehouse_spark.pipeline.catalog import Warehouse

    emb, queries = _ivf_fixture_parts(spark)
    n = emb.count()
    idx = IvfIndex(
        Warehouse(spark, str(tmp_path / "wh")), schema="ivf_t5", name="e"
    )
    half = emb.filter(F.col("vec_id") >= n // 2)
    idx.build(emb.filter(F.col("vec_id") < n // 2))
    for r in range(4):
        idx.ingest(half.filter(F.col("vec_id") % 4 == r))
    wdir = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")
    before = len(glob.glob(f"{wdir}/{idx.lists_name.lower()}/*.parquet"))
    want = sorted(map(tuple, idx.search(queries).collect()))
    after = idx.compact()
    got = sorted(map(tuple, idx.search(queries).collect()))
    assert got == want
    assert after < before


def test_ivf_index_delete_merge_on_read_then_physical(spark, tmp_path):
    """The deletion-vector loop end to end: (a) after ``delete``,
    search is BIT-IDENTICAL to an index built WITHOUT the deleted
    vectors (same codebook — victims chosen above the centroid seed
    range); (b) ``compact`` applies the tombstones physically (row
    count drops, sidecar cleared) with search unchanged; (c)
    re-ingesting a tombstoned vec_id un-deletes it."""
    from bitcoin_datawarehouse_spark.operators.embeddings_extra import (
        IVF_N_CENTROIDS,
    )
    from bitcoin_datawarehouse_spark.operators.ivf_index import IvfIndex
    from bitcoin_datawarehouse_spark.pipeline.catalog import Warehouse

    emb, queries = _ivf_fixture_parts(spark)
    idx = IvfIndex(
        Warehouse(spark, str(tmp_path / "wh")), schema="ivf_t7", name="e"
    )
    idx.build(emb)
    base = idx.search(queries).collect()
    # victims that actually appear in results make the test strong;
    # keep them out of the centroid-seed id range so the reduced
    # index's default codebook is identical
    victims = sorted(
        {r["cand_id"] for r in base if r["cand_id"] >= IVF_N_CENTROIDS}
    )[:5]
    assert victims
    idx.delete(victims)
    got = sorted(map(tuple, idx.search(queries).collect()))
    assert not any(r[1] in victims for r in got)

    reduced = IvfIndex(
        Warehouse(spark, str(tmp_path / "wh2")), schema="ivf_t8", name="e"
    )
    reduced.build(emb.filter(~F.col("vec_id").isin(victims)))
    want = sorted(map(tuple, reduced.search(queries).collect()))
    assert got == want

    # physical apply: rows drop by exactly the tombstoned-and-present
    # count, the sidecar is gone, search is unchanged
    before_rows = spark.table(idx.lists_name).count()
    idx.compact()
    assert spark.table(idx.lists_name).count() == before_rows - len(victims)
    assert not idx.wh.table_exists(idx.schema, idx.deletes_table)
    assert sorted(map(tuple, idx.search(queries).collect())) == want

    # un-delete: delete + re-ingest restores the original results,
    # with the new row WINNING (tombstones apply physically before
    # the append — no duplicate/stale row survives per victim)
    idx.delete(victims)
    idx.ingest(emb.filter(F.col("vec_id").isin(victims)))
    assert sorted(map(tuple, idx.search(queries).collect())) == sorted(
        map(tuple, base)
    )
    per_victim = (
        spark.table(idx.lists_name)
        .filter(F.col("vec_id").isin(victims))
        .groupBy("vec_id")
        .count()
        .collect()
    )
    assert len(per_victim) == len(victims)
    assert all(r["count"] == 1 for r in per_victim)

    # a REBUILD starts clean: stale tombstones must not suppress
    # vectors present in the new build (review-caught)
    idx.delete(victims)
    idx.build(emb)
    assert not idx.wh.table_exists(idx.schema, idx.deletes_table)
    rebuilt = sorted(map(tuple, idx.search(queries).collect()))
    assert rebuilt == sorted(map(tuple, base))


def test_ivf_index_with_trained_kmeans_quantizer(spark, tmp_path):
    """The codebook is pluggable: a Lloyd-trained quantizer
    (operators/kmeans.py) drops into IvfIndex.build unchanged, and
    searches from the persisted lists are bit-identical to the
    recompute-per-call plan over the SAME trained centroids (the
    plan/index layout is quantizer-agnostic)."""
    from bitcoin_datawarehouse_spark.operators.embeddings_extra import _normed
    from bitcoin_datawarehouse_spark.operators.ivf_index import IvfIndex
    from bitcoin_datawarehouse_spark.operators.kmeans import kmeans_fit
    from bitcoin_datawarehouse_spark.pipeline.catalog import Warehouse
    from tests.conftest import SF_SMALL

    emb, queries = _ivf_fixture_parts(spark)
    trained = kmeans_fit(_normed(spark, SF_SMALL)).select(
        "centroid_id", "ce"
    )
    idx = IvfIndex(
        Warehouse(spark, str(tmp_path / "wh")),
        schema="ivf_t6",
        name="e",
        n_centroids=trained.count(),
    )
    idx.build(emb, centroids=trained)
    got = idx.search(queries).collect()
    assert len(got) > 0
    # every query returns a full top-k block with contiguous ranks
    from collections import Counter

    per_q = Counter(r["query_id"] for r in got)
    for q, n in per_q.items():
        ranks = sorted(r["rnk"] for r in got if r["query_id"] == q)
        assert ranks == list(range(1, n + 1))


def test_ivf_index_same_name_different_warehouses_do_not_alias(
    spark, tmp_path
):
    """Two indexes with identical schema/name over DIFFERENT
    warehouse roots must not share (and clobber) one session-catalog
    lists table: after building B, A's searches still reflect A's
    corpus."""
    from bitcoin_datawarehouse_spark.operators.ivf_index import IvfIndex
    from bitcoin_datawarehouse_spark.pipeline.catalog import Warehouse

    emb, queries = _ivf_fixture_parts(spark)
    n = emb.count()
    a = IvfIndex(Warehouse(spark, str(tmp_path / "a")))
    b = IvfIndex(Warehouse(spark, str(tmp_path / "b")))
    assert a.lists_name != b.lists_name
    a.build(emb)
    want = sorted(map(tuple, a.search(queries).collect()))
    # B over a half corpus with the same default schema/name
    b.build(emb.filter(F.col("vec_id") < n // 2))
    assert sorted(map(tuple, a.search(queries).collect())) == want


def test_ivf_index_auto_compact_triggers_and_preserves_search(
    spark, tmp_path
):
    """With auto_compact_files set low, repeated ingests self-compact
    mid-loop and searches stay bit-identical to a never-compacted
    twin."""
    import glob

    from bitcoin_datawarehouse_spark.operators.ivf_index import IvfIndex
    from bitcoin_datawarehouse_spark.pipeline.catalog import Warehouse

    emb, queries = _ivf_fixture_parts(spark)
    n = emb.count()

    auto = IvfIndex(
        Warehouse(spark, str(tmp_path / "auto")),
        schema="ivf_t7",
        name="e",
        auto_compact_files=20,
    )
    plain = IvfIndex(
        Warehouse(spark, str(tmp_path / "plain")),
        schema="ivf_t8",
        name="e",
        auto_compact_files=None,
    )
    for idx in (auto, plain):
        idx.build(emb.filter(F.col("vec_id") < n // 2))
        for lo in range(n // 2, n, 50):
            idx.ingest(
                emb.filter(
                    (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 50)
                )
            )
    got = sorted(map(tuple, auto.search(queries).collect()))
    want = sorted(map(tuple, plain.search(queries).collect()))
    assert got == want
    assert auto._lists_file_count() < plain._lists_file_count()
