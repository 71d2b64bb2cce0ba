"""Streaming-layer tests: the events fixture replayed as a file
stream must produce the same results as the equivalent batch
computation, merges must be idempotent across restarts, and late /
duplicate rows must be handled by watermark semantics."""

from __future__ import annotations

import datetime as dt
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bitcoin_datawarehouse_spark.pipeline import Loader, Warehouse
from bitcoin_datawarehouse_spark.streaming.jobs import (
    EVENTS_SCHEMA,
    dedup_within_watermark,
    merge_stream_into_table,
    read_event_stream,
    run_stream_to_completion,
    windowed_event_counts,
)
from bitcoin_datawarehouse_spark.tables import load_table
from tests.conftest import SF_SMALL


@pytest.fixture()
def events_dir(spark, tmp_path):
    """Events fixture re-materialized as a 4-file directory (so the
    file source has multiple replayable splits), ts at micros."""
    d = tmp_path / "events_in"
    load_table(spark, SF_SMALL, "events").repartition(4).write.parquet(str(d))
    return str(d)


def test_stream_windowed_counts_match_batch(spark, tmp_path):
    # one file = one micro-batch: deterministic — within a batch no
    # row is late (the watermark only gates BETWEEN batches), so every
    # watermark-closed window must equal the batch computation.  The
    # multi-file arrival-order cases are covered by the late-rows test
    # below, which controls arrival explicitly.
    events_dir = str(tmp_path / "events_one")
    load_table(spark, SF_SMALL, "events").coalesce(1).write.parquet(events_dir)
    stream = read_event_stream(spark, events_dir)
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    run_stream_to_completion(q)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    batch = load_table(spark, SF_SMALL, "events")
    expected = {
        (r["ws"], r["event_type"]): (r["n"], r["s"])
        for r in (
            batch.groupBy(
                F.window("ts", "1 hour").alias("win"), "event_type"
            )
            .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
            .select(F.col("win.start").alias("ws"), "event_type", "n", "s")
            .collect()
        )
    }
    # append mode emits only watermark-closed windows; every emitted
    # window must match batch exactly, and most windows must emit
    assert got
    for k, v in got.items():
        assert expected[k][0] == v[0]
        assert abs(expected[k][1] - v[1]) < 1e-6
    assert len(got) >= len(expected) - 4  # only the tail can be open


def test_stream_merge_idempotent_and_exactly_once(spark, events_dir, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ck = str(tmp_path / "ck2")
    q = merge_stream_into_table(
        read_event_stream(spark, events_dir, max_files_per_trigger=2),
        wh, "analytics", "events", keys=["event_id"], checkpoint_dir=ck,
    )
    run_stream_to_completion(q)
    n_batch = load_table(spark, SF_SMALL, "events").count()
    assert Loader(wh, "analytics", "events").get_record_count() == n_batch

    # restart with the same checkpoint: offsets are committed, no
    # reprocessing, state unchanged → exactly-once table semantics
    q2 = merge_stream_into_table(
        read_event_stream(spark, events_dir),
        wh, "analytics", "events", keys=["event_id"], checkpoint_dir=ck,
    )
    run_stream_to_completion(q2)
    assert Loader(wh, "analytics", "events").get_record_count() == n_batch

    # fresh checkpoint (a full replay): merge keys make it idempotent
    q3 = merge_stream_into_table(
        read_event_stream(spark, events_dir),
        wh, "analytics", "events", keys=["event_id"],
        checkpoint_dir=str(tmp_path / "ck3"),
    )
    run_stream_to_completion(q3)
    assert Loader(wh, "analytics", "events").get_record_count() == n_batch


def test_stream_merge_partitioned_matches_batch_and_replays(spark, tmp_path):
    """The fact-scale streaming merge: micro-batched merges into a
    day-partitioned target end bit-identical to one batch partitioned
    load of the same rows, and a full fresh-checkpoint replay is a
    no-op (key merge per partition)."""
    events = (
        load_table(spark, SF_SMALL, "events")
        .withColumn("day", F.to_date("ts"))
    )
    n = events.count()
    src = tmp_path / "src"
    for i in range(3):
        events.filter(F.col("event_id") % 3 == i).repartition(1).write.parquet(
            str(src / f"f{i}")
        )
    # StructType.add MUTATES self — copy first, or the shared
    # EVENTS_SCHEMA grows a "day" field and every later test in the
    # suite fails on 6-tuple rows (order-dependent: each test passes
    # alone).  Bitten once; keep the copy.
    day_schema = T.StructType(list(EVENTS_SCHEMA.fields)).add("day", "date")

    def stream():
        return (
            spark.readStream.schema(day_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )

    swh = Warehouse(spark, str(tmp_path / "swh"))
    run_stream_to_completion(
        merge_stream_into_table(
            stream(), swh, "s", "events", keys=["event_id", "day"],
            checkpoint_dir=str(tmp_path / "ck1"), partition_col="day",
        )
    )
    assert swh.partition_cols("s", "events") == ["day"]
    got = spark.read.option(
        "basePath", str(swh.table_path("s", "events"))
    ).parquet(str(swh.table_path("s", "events")))
    assert got.count() == n

    bwh = Warehouse(spark, str(tmp_path / "bwh"))
    Loader(bwh, "s", "events").load_incremental(
        events, unique_keys=["event_id", "day"], order_col="ts",
        partition_col="day",
    )
    want = spark.read.option(
        "basePath", str(bwh.table_path("s", "events"))
    ).parquet(str(bwh.table_path("s", "events")))
    cols = sorted(want.columns)
    assert sorted(
        map(tuple, got.select(*cols).collect()), key=repr
    ) == sorted(map(tuple, want.select(*cols).collect()), key=repr)

    # fresh-checkpoint replay: same keys upsert into same partitions
    # (the layout on disk picks the partitioned merge)
    run_stream_to_completion(
        merge_stream_into_table(
            stream(), swh, "s", "events", keys=["event_id", "day"],
            checkpoint_dir=str(tmp_path / "ck2"),
        )
    )
    got2 = spark.read.option(
        "basePath", str(swh.table_path("s", "events"))
    ).parquet(str(swh.table_path("s", "events")))
    assert got2.count() == n


def test_stream_scd2_matches_batchwise_loader(spark, tmp_path):
    """Streaming SCD2 ≡ the batch loader applied per micro-batch: two
    event-time-ordered files stream through scd2_stream_into_table;
    the resulting history table is bit-identical to calling
    Loader.load_scd2 twice with the same batches and stamps."""
    from bitcoin_datawarehouse_spark.streaming.jobs import (
        scd2_stream_into_table,
    )

    day1 = [
        {"id": 1, "seg": "A", "ts": "2024-01-01 00:00:00"},
        {"id": 2, "seg": "B", "ts": "2024-01-01 00:00:00"},
    ]
    day2 = [
        {"id": 1, "seg": "A2", "ts": "2024-02-01 00:00:00"},  # changed
        {"id": 2, "seg": "B", "ts": "2024-02-01 00:00:00"},   # unchanged
        {"id": 3, "seg": "C", "ts": "2024-02-01 00:00:00"},   # new
    ]

    def df_of(rows):
        return spark.createDataFrame(
            [(r["id"], r["seg"], r["ts"]) for r in rows],
            "id long, seg string, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    src = tmp_path / "src"
    df_of(day1).coalesce(1).write.parquet(str(src / "f0"))
    df_of(day2).coalesce(1).write.parquet(str(src / "f1"))

    swh = Warehouse(spark, str(tmp_path / "stream_wh"))
    stream = (
        spark.readStream.schema("id long, seg string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    run_stream_to_completion(
        scd2_stream_into_table(
            stream, swh, "dim", "cust", keys=["id"],
            checkpoint_dir=str(tmp_path / "ck"),
        )
    )

    bwh = Warehouse(spark, str(tmp_path / "batch_wh"))
    ld = Loader(bwh, "dim", "cust")
    for rows, ts in ((day1, "2024-01-01 00:00:00"),
                     (day2, "2024-02-01 00:00:00")):
        ld.load_scd2(
            df_of(rows), unique_keys=["id"], batch_ts=ts,
            compare_cols=["seg"], order_col="ts",
        )
    got = sorted(map(tuple, swh.read("dim", "cust").collect()), key=repr)
    want = sorted(map(tuple, bwh.read("dim", "cust").collect()), key=repr)
    assert got == want
    # the history itself: 1 closed + 3 open versions
    cur = {r["id"]: r["seg"] for r in swh.read("dim", "cust")
           .filter(F.col("is_current")).collect()}
    assert cur == {1: "A2", 2: "B", 3: "C"}
    assert swh.read("dim", "cust").filter(~F.col("is_current")).count() == 1


def test_stream_drift_monitor_ledger_matches_batch_tv(spark, tmp_path):
    """The streaming drift monitor appends one ledger row per
    micro-batch whose TV distance equals the batch-computed value
    against the same pinned reference — and a genuinely shifted batch
    reads as more drifted than an in-distribution one."""
    from decimal import Decimal

    from bitcoin_datawarehouse_spark.streaming.jobs import (
        drift_monitor_stream,
    )

    width = 10.0
    # reference: uniform over buckets 0..3 (values 0..39)
    reference = [(b, 25) for b in range(4)]

    def df_of(vals):
        return spark.createDataFrame([(float(v),) for v in vals], "v double")

    in_dist = [5, 15, 25, 35] * 5          # matches the reference shape
    shifted = [85, 95, 105, 115] * 5       # fully outside its support
    src = tmp_path / "src"
    df_of(in_dist).coalesce(1).write.parquet(str(src / "f0"))
    df_of(shifted).coalesce(1).write.parquet(str(src / "f1"))

    wh = Warehouse(spark, str(tmp_path / "wh"))
    stream = (
        spark.readStream.schema("v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    run_stream_to_completion(
        drift_monitor_stream(
            stream, wh, "monitor", "drift", reference,
            value_col="v", bucket_width=width,
            checkpoint_dir=str(tmp_path / "ck"),
        )
    )
    ledger = {
        r["batch_id"]: (r["n_rows"], r["tv"])
        for r in wh.read("monitor", "drift").collect()
    }
    assert len(ledger) == 2
    tvs = sorted(tv for _, tv in ledger.values())

    def batch_tv(vals):
        # same chain as the monitor: exact counts, one division per
        # bucket, exact-decimal |diff| accumulation
        from collections import Counter

        cur = Counter(int(v // width) for v in vals)
        n_ref = sum(n for _, n in reference)
        refd = dict(reference)
        buckets = set(refd) | set(cur)
        acc = Decimal(0)
        for b in buckets:
            d = abs(refd.get(b, 0) / n_ref - cur.get(b, 0) / len(vals))
            acc += Decimal(str(d)).quantize(Decimal("1E-10"))
        return float(
            Decimal(str(0.5 * float(acc))).quantize(Decimal("1E-6"))
        )

    assert tvs == sorted([batch_tv(in_dist), batch_tv(shifted)])
    assert batch_tv(in_dist) == 0.0 and batch_tv(shifted) == 1.0


def test_stream_dedup_within_watermark(spark, tmp_path):
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base, 10, "click", 1.0, "{}"),
        (1, base + dt.timedelta(minutes=5), 10, "click", 1.0, "{}"),  # dup id
        (2, base + dt.timedelta(minutes=10), 11, "view", 2.0, "{}"),
        (2, base + dt.timedelta(minutes=11), 11, "view", 2.0, "{}"),  # dup id
        (3, base + dt.timedelta(hours=1), 12, "click", 3.0, "{}"),
    ]
    src = tmp_path / "dup_in"
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.parquet(str(src))
    stream = read_event_stream(spark, str(src))
    q = (
        dedup_within_watermark(stream, ["event_id"], watermark="2 hours")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck4"))
        .trigger(availableNow=True)
        .start()
    )
    run_stream_to_completion(q)
    out = spark.sql("SELECT event_id FROM dedup_out").collect()
    assert sorted(r["event_id"] for r in out) == [1, 2, 3]


def test_stream_late_rows_within_watermark_merge(spark, tmp_path):
    """Rows arriving in a later file but within the watermark delay
    still land in their event-time window."""
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    d = tmp_path / "late_in"
    d.mkdir()
    first = [
        (1, base + dt.timedelta(minutes=1), 1, "click", 1.0, "{}"),
        (2, base + dt.timedelta(hours=3), 1, "click", 1.0, "{}"),  # advances wm
    ]
    late = [
        # event-time in the first window, arrives after wm advanced to
        # 3h - 4h delay => within watermark, must still be counted
        (3, base + dt.timedelta(minutes=30), 2, "click", 5.0, "{}"),
    ]
    spark.createDataFrame(first, EVENTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(d))
    spark.createDataFrame(late, EVENTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(d))
    stream = read_event_stream(spark, str(d), max_files_per_trigger=1)
    agg = windowed_event_counts(stream, window="1 hour", watermark="4 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck5"))
        .trigger(availableNow=True)
        .start()
    )
    run_stream_to_completion(q)
    got = {
        r["window_start"]: r["n_events"]
        for r in spark.sql("SELECT * FROM late_out").collect()
    }
    assert got[base] == 2  # both the on-time and the late row counted


def test_stream_stream_attribution_join_matches_batch(spark, tmp_path):
    from bitcoin_datawarehouse_spark.streaming.joins import attribution_join

    d = str(tmp_path / "ss_in")
    batch_events = load_table(spark, SF_SMALL, "events")
    batch_events.coalesce(1).write.parquet(d)
    q = (
        attribution_join(read_event_stream(spark, d))
        .writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_ss"))
        .trigger(availableNow=True)
        .start()
    )
    run_stream_to_completion(q)
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM attrib").collect()
    }
    expected = {
        (r["purchase_id"], r["click_id"])
        for r in attribution_join(batch_events).collect()
    }
    assert got == expected and len(got) > 0


def test_stream_dedup_multi_microbatch_equals_batch_distinct(spark, tmp_path):
    """The gate query's DISTINCT-equivalence must hold when the replay
    splits into MANY micro-batches, not just the coalesce(1) single
    batch: with the watermark delay wider than the event-time span
    (operators/streaming_ops.py), keys recurring hours apart must
    still be dropped even when they arrive in different batches.
    Regression test for the round-2 advisory: a 2h delay would have
    re-emitted keys after state eviction under this batching."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    # the same (user, type) key recurs across a 3-day span — far beyond
    # any realistic lateness horizon — interleaved with unique keys
    rows = []
    for day in range(3):
        for uid in (10, 11, 12):
            rows.append(
                (
                    day * 100 + uid,
                    base + dt.timedelta(days=day, minutes=uid),
                    uid,
                    "click",
                    1.0,
                    "{}",
                )
            )
    src = tmp_path / "multi_in"
    # one file per day => with maxFilesPerTrigger=1 each day is its own
    # micro-batch and the watermark advances 1 day between batches
    df = spark.createDataFrame(rows, EVENTS_SCHEMA)
    for day in range(3):
        lo = base + dt.timedelta(days=day)
        hi = lo + dt.timedelta(days=1)
        df.filter((F.col("ts") >= lo) & (F.col("ts") < hi)).coalesce(
            1
        ).write.mode("append").parquet(str(src))

    dedup = (
        read_event_stream(spark, str(src), max_files_per_trigger=1)
        .withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    q = (
        dedup.writeStream.format("memory")
        .queryName("dedup_multi_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_multi"))
        .trigger(availableNow=True)
        .start()
    )
    run_stream_to_completion(q)
    got = sorted(
        (r["user_id"], r["event_type"])
        for r in spark.sql(
            "SELECT user_id, event_type FROM dedup_multi_out"
        ).collect()
    )
    # exactly the batch DISTINCT: one row per key despite 3 batches
    assert got == [(10, "click"), (11, "click"), (12, "click")]


def test_stream_lsh_dedup_matches_one_shot_and_replays_are_noop(
    spark, tmp_path
):
    """Streaming near-dup ingest (foreachBatch over the persisted LSH
    index) must leave the index in the BIT-IDENTICAL state a one-shot
    batch ingest produces, with the cumulative stream ledger matching
    the one-shot decisions; replaying the whole source against a fresh
    checkpoint must be a no-op (idempotence anti-join)."""
    from bitcoin_datawarehouse_spark.operators.lsh_index import LshDedupIndex
    from bitcoin_datawarehouse_spark.streaming.dedup_stream import (
        run_lsh_dedup_stream,
    )
    from tests.test_pipeline import _CORPUS, _docsets_for

    src = tmp_path / "docs_in"
    # two id-ordered files → two micro-batches (arrival order = id order)
    spark.createDataFrame(
        _CORPUS[:3], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f0"))
    spark.createDataFrame(
        _CORPUS[3:], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))

    idx = LshDedupIndex(Warehouse(spark, str(tmp_path / "stream_wh")))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    run_stream_to_completion(
        run_lsh_dedup_stream(stream, idx, str(tmp_path / "ck1"))
    )

    one = LshDedupIndex(Warehouse(spark, str(tmp_path / "one_wh")))
    want = {
        r["doc_id"]: tuple(r)
        for r in one.ingest_batch(_docsets_for(spark, _CORPUS)).collect()
    }
    ledger = idx.wh.read(idx.schema, f"{idx.decisions_table}_stream")
    got = {
        r["doc_id"]: (r["doc_id"], r["is_dup"], r["match_id"],
                      r["match_jaccard"])
        for r in ledger.collect()
    }
    assert got == want

    def state(index):
        bands = sorted(map(tuple, index._bands().collect()))
        sets_ = sorted(map(tuple, index._docsets().collect()))
        return bands, sets_

    assert state(idx) == state(one)

    # full replay, fresh checkpoint: anti-join makes it a no-op
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    run_stream_to_completion(
        run_lsh_dedup_stream(stream2, idx, str(tmp_path / "ck2"))
    )
    assert state(idx) == state(one)
    replayed = idx.wh.read(idx.schema, f"{idx.decisions_table}_stream")
    assert replayed.count() == len(want)  # no duplicate ledger rows


def test_stream_lsh_dedup_ledger_backfill_after_crash_window(
    spark, tmp_path
):
    """Crash-window repair: if the index was appended but the stream
    ledger append never happened (simulated by building the index via
    direct ingest_batch calls, which write the per-ingest decisions
    table but no stream ledger), a stream replay over the same
    documents must backfill the ledger from the per-ingest table —
    not lose the decisions to the idempotence anti-join."""
    from bitcoin_datawarehouse_spark.operators.lsh_index import LshDedupIndex
    from bitcoin_datawarehouse_spark.streaming.dedup_stream import (
        run_lsh_dedup_stream,
    )
    from tests.test_pipeline import _CORPUS, _docsets_for

    src = tmp_path / "docs_in"
    spark.createDataFrame(
        _CORPUS, "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f0"))

    idx = LshDedupIndex(Warehouse(spark, str(tmp_path / "wh")))
    want = {
        r["doc_id"]: tuple(r)
        for r in idx.ingest_batch(_docsets_for(spark, _CORPUS)).collect()
    }
    # no stream ledger exists yet — the crash happened "before" it
    assert not idx.wh.table_exists(
        idx.schema, f"{idx.decisions_table}_stream"
    )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(str(src / "*"))
    )
    run_stream_to_completion(
        run_lsh_dedup_stream(stream, idx, str(tmp_path / "ck"))
    )
    ledger = idx.wh.read(idx.schema, f"{idx.decisions_table}_stream")
    got = {
        r["doc_id"]: (r["doc_id"], r["is_dup"], r["match_id"],
                      r["match_jaccard"])
        for r in ledger.collect()
    }
    assert got == want
    # the per-ingest recovery copy survived (no empty-ingest overwrite)
    assert idx.wh.read(idx.schema, idx.decisions_table).count() == len(want)


def test_stream_lsh_dedup_replay_after_partial_index_append(
    spark, tmp_path, monkeypatch
):
    """Crash BETWEEN the bands append and the docsets append, then a
    stream (re)start over the same source: the batch still looks
    fresh (freshness keys on docsets), so it re-ingests — the
    self-pair guard and idempotent _append must make ledger and index
    converge to the one-shot result."""
    from bitcoin_datawarehouse_spark.operators.lsh_index import LshDedupIndex
    from bitcoin_datawarehouse_spark.streaming.dedup_stream import (
        run_lsh_dedup_stream,
    )
    from tests.test_pipeline import _CORPUS, _docsets_for

    src = tmp_path / "docs_in"
    spark.createDataFrame(
        _CORPUS[:3], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f0"))
    spark.createDataFrame(
        _CORPUS[3:], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))

    idx = LshDedupIndex(Warehouse(spark, str(tmp_path / "wh")))
    # simulate the first micro-batch crashing mid-_append: decisions
    # table written, bands appended, docsets NOT, no ledger
    real_append = idx.wh.append

    def crashing_append(df, schema, table):
        if table == idx.docsets_table:
            raise RuntimeError("simulated crash")
        real_append(df, schema, table)

    monkeypatch.setattr(idx.wh, "append", crashing_append)
    with pytest.raises(RuntimeError, match="simulated crash"):
        idx.ingest_batch(_docsets_for(spark, _CORPUS[:3]))
    monkeypatch.setattr(idx.wh, "append", real_append)
    assert idx.wh.table_exists(idx.schema, idx.bands_table)
    assert not idx.wh.table_exists(idx.schema, idx.docsets_table)

    # restart the stream from scratch (fresh checkpoint — the worst
    # case: every batch redelivered)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    run_stream_to_completion(
        run_lsh_dedup_stream(stream, idx, str(tmp_path / "ck"))
    )

    one = LshDedupIndex(Warehouse(spark, str(tmp_path / "one_wh")))
    want = {
        r["doc_id"]: tuple(r)
        for r in one.ingest_batch(_docsets_for(spark, _CORPUS)).collect()
    }
    ledger = idx.wh.read(idx.schema, f"{idx.decisions_table}_stream")
    got = {
        r["doc_id"]: (r["doc_id"], r["is_dup"], r["match_id"],
                      r["match_jaccard"])
        for r in ledger.collect()
    }
    assert got == want
    assert ledger.count() == len(want)  # one ledger row per doc

    def state(index):
        return (
            sorted(map(tuple, index._bands().collect())),
            sorted(map(tuple, index._docsets().collect())),
        )

    assert state(idx) == state(one)


def test_stream_lsh_dedup_per_doc_backfill_after_partial_docsets(
    spark, tmp_path
):
    """Crash MID-docsets-append (some docs' rows committed, some not):
    the replay must ledger-backfill the already-indexed subset from
    the per-ingest decisions table — per doc, BEFORE re-ingesting the
    fresh remainder replaces that table — so the ledger converges to
    one decision row per doc with the crashed run's values."""
    from bitcoin_datawarehouse_spark.operators.lsh_index import LshDedupIndex
    from bitcoin_datawarehouse_spark.streaming.dedup_stream import (
        run_lsh_dedup_stream,
    )
    from tests.test_pipeline import _CORPUS, _docsets_for

    src = tmp_path / "docs_in"
    spark.createDataFrame(
        _CORPUS[:3], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f0"))
    spark.createDataFrame(
        _CORPUS[3:], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))

    # build the crashed state by copying from a fully-ingested twin:
    # decisions + bands complete, docsets holds only docs {1, 2}
    twin = LshDedupIndex(Warehouse(spark, str(tmp_path / "twin")))
    twin.ingest_batch(_docsets_for(spark, _CORPUS[:3]))

    idx = LshDedupIndex(Warehouse(spark, str(tmp_path / "wh")))
    idx.wh.append(twin._bands(), idx.schema, idx.bands_table)
    idx.wh.append(
        twin._docsets().filter(F.col("doc_id") <= 2),
        idx.schema,
        idx.docsets_table,
    )
    idx.wh.write_atomic(
        twin.wh.read(twin.schema, twin.decisions_table),
        idx.schema,
        idx.decisions_table,
    )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    run_stream_to_completion(
        run_lsh_dedup_stream(stream, idx, str(tmp_path / "ck"))
    )

    one = LshDedupIndex(Warehouse(spark, str(tmp_path / "one_wh")))
    want = {
        r["doc_id"]: tuple(r)
        for r in one.ingest_batch(_docsets_for(spark, _CORPUS)).collect()
    }
    ledger = idx.wh.read(idx.schema, f"{idx.decisions_table}_stream")
    got = {
        r["doc_id"]: (r["doc_id"], r["is_dup"], r["match_id"],
                      r["match_jaccard"])
        for r in ledger.collect()
    }
    assert got == want
    assert ledger.count() == len(want)

    def state(index):
        return (
            sorted(map(tuple, index._bands().collect())),
            sorted(map(tuple, index._docsets().collect())),
        )

    assert state(idx) == state(one)


def test_stream_ivf_ingest_matches_one_shot_and_replays_are_noop(
    spark, tmp_path
):
    """Streaming vector ingest into the persisted IVF index: after
    draining the stream, searches must be bit-identical to an index
    built one-shot on the full corpus; a full replay from a fresh
    checkpoint must be a no-op (idempotence anti-join)."""
    from pyspark.sql import functions as F

    from bitcoin_datawarehouse_spark.operators.embeddings_extra import _normed
    from bitcoin_datawarehouse_spark.operators.ivf_index import IvfIndex
    from bitcoin_datawarehouse_spark.operators.similarity import N_QUERIES
    from bitcoin_datawarehouse_spark.streaming.ann_stream import (
        run_ivf_ingest_stream,
    )
    from tests.conftest import SF_SMALL

    emb = _normed(spark, SF_SMALL).select("vec_id", "e")
    n = emb.count()
    half = n // 2
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )

    src = tmp_path / "vec_in"
    emb.filter(
        (F.col("vec_id") >= half) & (F.col("vec_id") < half + half // 2)
    ).coalesce(1).write.parquet(str(src / "f0"))
    emb.filter(F.col("vec_id") >= half + half // 2).coalesce(1).write.parquet(
        str(src / "f1")
    )

    idx = IvfIndex(
        Warehouse(spark, str(tmp_path / "wh")), schema="ivf_s1", name="e"
    )
    idx.build(emb.filter(F.col("vec_id") < half))

    stream = (
        spark.readStream.schema("vec_id long, e array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    run_stream_to_completion(
        run_ivf_ingest_stream(stream, idx, str(tmp_path / "ck1"))
    )

    one = IvfIndex(
        Warehouse(spark, str(tmp_path / "one")), schema="ivf_s2", name="e"
    )
    one.build(emb)
    got = sorted(map(tuple, idx.search(queries).collect()))
    want = sorted(map(tuple, one.search(queries).collect()))
    assert got == want
    n_rows = spark.table(idx.lists_name).count()
    assert n_rows == n

    # full replay, fresh checkpoint: no duplicate list entries
    stream2 = (
        spark.readStream.schema("vec_id long, e array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    run_stream_to_completion(
        run_ivf_ingest_stream(stream2, idx, str(tmp_path / "ck2"))
    )
    assert spark.table(idx.lists_name).count() == n_rows
    assert sorted(map(tuple, idx.search(queries).collect())) == want


def test_stream_ivf_ingest_dedups_within_one_micro_batch(spark, tmp_path):
    """A noisy source emitting the same vec_id TWICE inside one
    trigger: both copies pass the lists anti-join (neither is
    persisted yet), so without the in-batch dropDuplicates the lists
    would hold the vector twice and a duplicated cand_id would tie
    with itself in search rankings.  Exactly one copy must land."""
    from pyspark.sql import functions as F

    from bitcoin_datawarehouse_spark.operators.embeddings_extra import _normed
    from bitcoin_datawarehouse_spark.operators.ivf_index import IvfIndex
    from bitcoin_datawarehouse_spark.streaming.ann_stream import (
        run_ivf_ingest_stream,
    )
    from tests.conftest import SF_SMALL

    emb = _normed(spark, SF_SMALL).select("vec_id", "e")
    n = emb.count()
    half = n // 2
    new = emb.filter(F.col("vec_id") >= half)
    # ONE source file holding every new vector twice → one micro-batch
    # with in-batch duplicates
    src = tmp_path / "vec_in"
    new.union(new).coalesce(1).write.parquet(str(src / "f0"))

    idx = IvfIndex(
        Warehouse(spark, str(tmp_path / "wh")), schema="ivf_s3", name="e"
    )
    idx.build(emb.filter(F.col("vec_id") < half))

    stream = spark.readStream.schema("vec_id long, e array<double>").parquet(
        str(src / "*")
    )
    run_stream_to_completion(
        run_ivf_ingest_stream(stream, idx, str(tmp_path / "ck"))
    )
    lists = spark.table(idx.lists_name)
    assert lists.count() == n
    assert (
        lists.groupBy("vec_id").count().filter(F.col("count") > 1).count()
        == 0
    )


_CURATION_BASES = {
    "a": (
        "the quick brown fox jumps over and runs with lazy dogs near "
        "the old stone bridge while birds sing and children play "
        "games under warm summer skies as rivers flow past green "
        "meadows full of flowers"
    ),
    "b": (
        "the ancient library holds dusty volumes and faded maps from "
        "the distant voyages while scholars debate and students copy "
        "notes beside tall candles as winter storms rattle heavy "
        "wooden shutters outside cold halls"
    ),
    "c": (
        "the busy harbor welcomes loaded vessels and weary sailors "
        "from the southern routes while merchants barter and porters "
        "haul crates along wet planks as evening lanterns glow above "
        "salty tangled fishing nets"
    ),
}


def _curation_text(family: str, tail: str) -> str:
    """A document body that PASSES the Gopher gate (≈40 words, mean
    word length in band, stopword hits, no symbols): a per-FAMILY
    base paragraph (families are far apart in shingle space, so only
    same-family variants are near-dups) plus a distinguishing tail."""
    return f"{_CURATION_BASES[family]} {tail}"


def test_stream_curation_matches_sequential_batches_and_replays(
    spark, tmp_path
):
    """The streaming curation ingest (quality → exact-vs-history →
    LSH near-dup → curated append) must produce the SAME curated set
    a sequential batch loop of the same stages produces, and a full
    replay against a fresh checkpoint must be a no-op."""
    import hashlib

    from bitcoin_datawarehouse_spark.operators.curation import (
        gopher_keep_col,
        gopher_metrics_frame,
    )
    from bitcoin_datawarehouse_spark.operators.dedup import (
        shingle_sets_frame,
    )
    from bitcoin_datawarehouse_spark.operators.lsh_index import (
        LshDedupIndex,
    )
    from bitcoin_datawarehouse_spark.streaming.curation_stream import (
        run_curation_stream,
    )

    a = _curation_text("a", "alpha beta gamma delta")
    b = _curation_text("b", "epsilon zeta eta theta")
    b_near = _curation_text("b", "epsilon zeta iota theta")  # ~b
    c = _curation_text("c", "kappa lam mu nu")
    c_near = _curation_text("c", "kappa lam mu xi")  # ~c
    batches = [
        [
            (0, a, "src_0"),
            (1, a, "src_0"),  # in-batch exact dup → dropped
            (2, b, "src_1"),
            (3, "x y", "src_1"),  # quality fail → dropped
        ],
        [
            (10, a, "src_2"),  # cross-batch exact dup → dropped
            (11, b_near, "src_2"),  # near-dup of 2 → LSH drop
            (12, c, "src_3"),  # unique → kept
            (13, c_near, "src_3"),  # in-batch near-dup of 12 → drop
        ],
    ]

    src = tmp_path / "cur_in"
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / f"f{i}"))

    idx = LshDedupIndex(Warehouse(spark, str(tmp_path / "cur_wh")))
    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    run_stream_to_completion(
        run_curation_stream(stream, idx, str(tmp_path / "ck1"))
    )

    # --- sequential reference loop over the same stages ---
    ref_idx = LshDedupIndex(Warehouse(spark, str(tmp_path / "ref_wh")))
    hist: set[str] = set()
    curated_ref: set[int] = set()
    for rows in batches:
        bdf = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        keep_ids = {
            r["doc_id"]
            for r in gopher_metrics_frame(bdf.select("doc_id", "text"))
            .filter(gopher_keep_col())
            .select("doc_id")
            .collect()
        }
        best: dict[str, tuple] = {}
        for did, txt, _s in sorted(rows):
            if did not in keep_ids:
                continue
            h = hashlib.md5(txt.encode()).hexdigest()
            if h in hist or h in best:
                continue
            best[h] = (did, txt)
        hist |= set(best.keys())
        s2 = sorted(best.values())
        if s2:
            sdf = spark.createDataFrame(s2, "doc_id long, text string")
            dec = ref_idx.ingest_batch(shingle_sets_frame(sdf))
            curated_ref |= {
                r["doc_id"] for r in dec.collect() if not r["is_dup"]
            }

    got = {
        r["doc_id"]
        for r in idx.wh.read(idx.schema, "curated_docs").collect()
    }
    assert got == curated_ref == {0, 2, 12}
    hashes = idx.wh.read(idx.schema, "curated_docs_hashes").collect()
    # content owners: every exact-stage survivor, incl. LSH-dropped
    assert {r["doc_id"] for r in hashes} == {0, 2, 11, 12, 13}
    assert len(hashes) == 5

    # full replay, fresh checkpoint → byte-stable state
    stream2 = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    run_stream_to_completion(
        run_curation_stream(stream2, idx, str(tmp_path / "ck2"))
    )
    assert {
        r["doc_id"]
        for r in idx.wh.read(idx.schema, "curated_docs").collect()
    } == {0, 2, 12}
    assert idx.wh.read(idx.schema, "curated_docs_hashes").count() == 5


def test_stream_curation_backfills_after_index_append_crash(
    spark, tmp_path
):
    """Crash window: a trigger that died AFTER the LSH index append
    but BEFORE the curated/hashes appends must, on replay, recover
    the batch's decisions from the index's per-ingest table (never
    re-ingest — the docs are already indexed) and complete both
    downstream appends exactly once."""
    from bitcoin_datawarehouse_spark.operators.dedup import (
        shingle_sets_frame,
    )
    from bitcoin_datawarehouse_spark.operators.lsh_index import (
        LshDedupIndex,
    )
    from bitcoin_datawarehouse_spark.streaming.curation_stream import (
        run_curation_stream,
    )

    a = _curation_text("a", "alpha beta gamma delta")
    b = _curation_text("b", "epsilon zeta eta theta")
    rows = [(0, a, "s0"), (1, b, "s0")]

    idx = LshDedupIndex(Warehouse(spark, str(tmp_path / "wh")))
    # simulate the crashed trigger: the index ingest happened (docs
    # indexed, decisions materialized) but the downstream appends
    # never ran — exactly the state run_curation_stream's ingest
    # leaves when it dies between index.ingest_batch and _finish
    sdf = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    )
    idx.ingest_batch(shingle_sets_frame(sdf))
    assert not idx.wh.table_exists(idx.schema, "curated_docs")

    src = tmp_path / "in"
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f0"))
    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .parquet(str(src / "*"))
    )
    run_stream_to_completion(
        run_curation_stream(stream, idx, str(tmp_path / "ck"))
    )

    curated = idx.wh.read(idx.schema, "curated_docs").collect()
    assert {r["doc_id"] for r in curated} == {0, 1}
    assert idx.wh.read(idx.schema, "curated_docs_hashes").count() == 2
    # the index holds each doc exactly once (no re-ingest happened)
    assert idx._docsets().count() == 2


# two extra Gopher-passing paragraphs (distinct families: far apart in
# shingle space from _CURATION_BASES and from each other)
_CURATION_BASES["d"] = (
    "the quiet orchard spreads ripened apples and humming bees over "
    "the sloping meadow while farmers gather and children chase "
    "kites between crooked fences as autumn sunlight warms the "
    "gentle rustling golden leaves"
)
_CURATION_BASES["e"] = (
    "the narrow canyon echoes rushing water and falling pebbles "
    "under the painted cliffs while hikers scramble and guides "
    "point routes across swaying bridges as morning mist settles "
    "over mossy boulders below"
)


def test_stream_curation_semdedup_and_decontam_match_sequential(
    spark, tmp_path
):
    """The round-9 stages: streaming SemDeDup (arrival-order greedy
    against the standing per-cell state, cross-batch) and streaming
    decontamination (eval members + shingle-overlap) must produce the
    SAME curated set as a sequential batch loop of the same stages,
    a full replay must be a no-op, and docs WITHOUT an embedding must
    pass the semantic stage."""
    import hashlib

    import numpy as np

    from bitcoin_datawarehouse_spark.operators.curation import (
        DECONTAM_THRESHOLD,
        EVAL_MOD,
        gopher_keep_col,
        gopher_metrics_frame,
    )
    from bitcoin_datawarehouse_spark.operators.dedup import (
        shingle_sets_frame,
    )
    from bitcoin_datawarehouse_spark.operators.lsh_index import (
        LshDedupIndex,
    )
    from bitcoin_datawarehouse_spark.streaming.curation_stream import (
        _py_round6,
        run_curation_stream,
    )

    a = _curation_text("a", "alpha beta gamma delta")
    b = _curation_text("b", "epsilon zeta eta theta")
    c = _curation_text("c", "kappa lam mu nu")
    d = _curation_text("d", "omicron pi rho sigma")
    e = _curation_text("e", "tau upsilon phi chi")

    # embeddings: doc 1 and doc 11 are semantic dups ACROSS batches
    # (different text families, so no LSH relation); doc 2 is far;
    # doc 12 has NO embedding and must pass the semantic stage
    codebook = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb_rows = [
        (1, [1.0, 0.05, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (11, [0.95, 0.1, 0.0, 0.0]),  # ≈ doc 1 → semantic drop
    ]
    emb_path = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        emb_rows, "vec_id long, embedding array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(emb_path)

    # eval shingle artifact built from paragraph e: doc 13 reuses the
    # same family text → overlap ≈ 1 ≥ threshold → contaminated drop
    def _shingles(txt: str) -> set[str]:
        import re as _re

        tk = [t for t in _re.split("[^a-z0-9]+", txt.lower()) if t]
        return {
            f"{tk[i]} {tk[i + 1]} {tk[i + 2]}"
            for i in range(len(tk) - 2)
        }

    eval_shingles = frozenset(_shingles(e))

    batches = [
        [(1, a, "s0"), (2, b, "s0")],
        [
            (11, c, "s1"),  # semantic dup of 1 (cross-batch) → drop
            (12, d, "s1"),  # no embedding → passes semantic stage
            (13, _curation_text("e", "psi omega rho pebble"), "s1"),
            # ^ contaminated vs the eval artifact → decontam drop
            (EVAL_MOD * 3, _curation_text("d", "eval member tail"), "s1"),
            # ^ eval member (doc_id % EVAL_MOD = 0): near-dup of 12 by
            #   LSH? same family d — yes, LSH may drop it first; either
            #   way it must NOT be curated
        ],
    ]

    src = tmp_path / "in"
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / f"f{i}"))

    idx = LshDedupIndex(Warehouse(spark, str(tmp_path / "wh")))
    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    run_stream_to_completion(
        run_curation_stream(
            stream,
            idx,
            str(tmp_path / "ck1"),
            emb_path=emb_path,
            sem_codebook=codebook,
            eval_shingles=eval_shingles,
        )
    )

    # --- sequential reference over the same stages -------------------
    ref_idx = LshDedupIndex(Warehouse(spark, str(tmp_path / "ref_wh")))
    emb_map = {i: np.array(v) for i, v in emb_rows}
    cmat = np.array([v for _, v in codebook])
    hist: set[str] = set()
    sem_state: dict[int, list[np.ndarray]] = {0: [], 1: []}
    curated_ref: set[int] = set()
    for rows in batches:
        bdf = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        keep_ids = {
            r["doc_id"]
            for r in gopher_metrics_frame(bdf.select("doc_id", "text"))
            .filter(gopher_keep_col())
            .select("doc_id")
            .collect()
        }
        best: dict[str, tuple] = {}
        for did, txt, _s in sorted(rows):
            if did not in keep_ids:
                continue
            h = hashlib.md5(txt.encode()).hexdigest()
            if h in hist or h in best:
                continue
            best[h] = (did, txt)
        hist |= set(best.keys())
        s2 = sorted(best.values())
        if not s2:
            continue
        sdf = spark.createDataFrame(s2, "doc_id long, text string")
        dec = ref_idx.ingest_batch(shingle_sets_frame(sdf))
        lsh_surv = sorted(
            r["doc_id"] for r in dec.collect() if not r["is_dup"]
        )
        texts = dict(s2)
        for did in lsh_surv:  # arrival (doc_id) order within batch
            v = emb_map.get(did)
            if v is not None:
                cos_c = (cmat @ v) / (
                    np.linalg.norm(cmat, axis=1) * np.linalg.norm(v)
                )
                cell = int(np.argmax(cos_c))  # ties: smallest id wins
                kept = sem_state[cell]
                if any(
                    float(k @ v)
                    / (np.linalg.norm(k) * np.linalg.norm(v))
                    >= 0.35
                    for k in kept
                ):
                    continue
                kept.append(v)
            # decontam
            if did % EVAL_MOD == 0:
                continue
            sh = _shingles(texts[did])
            if sh and _py_round6(
                len(sh & eval_shingles) / len(sh)
            ) >= DECONTAM_THRESHOLD:
                continue
            curated_ref.add(did)

    got = {
        r["doc_id"]
        for r in idx.wh.read(idx.schema, "curated_docs").collect()
    }
    assert got == curated_ref
    assert 1 in got and 2 in got and 12 in got
    assert 11 not in got and 13 not in got and EVAL_MOD * 3 not in got

    # semantic state: kept reps only (1 and 2 — doc 11 dropped;
    # 12 has no embedding so it never enters the state)
    sem = idx.wh.read(idx.schema, "curated_docs_semcells").collect()
    assert {r["doc_id"] for r in sem} == {1, 2}

    # full replay, fresh checkpoint → byte-stable everything
    stream2 = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    run_stream_to_completion(
        run_curation_stream(
            stream2,
            idx,
            str(tmp_path / "ck2"),
            emb_path=emb_path,
            sem_codebook=codebook,
            eval_shingles=eval_shingles,
        )
    )
    assert {
        r["doc_id"]
        for r in idx.wh.read(idx.schema, "curated_docs").collect()
    } == curated_ref
    assert (
        idx.wh.read(idx.schema, "curated_docs_semcells").count() == 2
    )


def test_ivf_compact_after_cross_session_append_loses_nothing(
    spark, tmp_path
):
    """Data-loss regression (found by the streaming RAG probe): an
    ingest appended through a DIFFERENT session (the foreachBatch
    clone) while THIS session held a cached relation of the lists
    table; compact() then rewrote the table from the stale listing
    and silently dropped the appended batch.  compact()/_live_lists
    now refresh the catalog relation first."""
    from bitcoin_datawarehouse_spark.operators.ivf_index import IvfIndex

    idx = IvfIndex(
        Warehouse(spark, str(tmp_path / "wh")),
        schema="xs",
        name="e",
        auto_compact_files=None,
    )
    emb1 = spark.range(20).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("double"), F.lit(1.0)
        ).alias("e"),
    )
    idx.build(emb1)
    # pin the stale relation in THIS session's catalog
    assert spark.table(idx.lists_name).count() == 20

    clone = spark.newSession()
    emb2 = clone.range(20, 35).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 5).cast("double"), F.lit(1.0)
        ).alias("e"),
    )
    idx.ingest(emb2)

    idx.compact()
    assert spark.table(idx.lists_name).count() == 35
    assert (
        spark.table(idx.lists_name).select("vec_id").distinct().count()
        == 35
    )


def test_stream_curation_chunk_index_matches_batch_build(
    spark, tmp_path
):
    """The streaming RAG tail (round 9): each trigger's final
    survivors chunk + featurize + append into the persisted chunk
    index.  After draining, searching the stream-fed index must be
    BIT-IDENTICAL to searching a batch-built index (same codebook)
    over the same curated set, and a full replay must leave the
    index unchanged (vec_id anti-join)."""
    from bitcoin_datawarehouse_spark.operators.chunk_retrieval import (
        CHUNK_EMB_DIM,
        CHUNK_VEC_MOD,
        chunk_vectors_frame,
    )
    from bitcoin_datawarehouse_spark.operators.ivf_index import IvfIndex
    from bitcoin_datawarehouse_spark.operators.lsh_index import (
        LshDedupIndex,
    )
    from bitcoin_datawarehouse_spark.operators.text_stats import (
        chunk_windows_frame,
    )
    from bitcoin_datawarehouse_spark.streaming.curation_stream import (
        run_curation_stream,
    )

    a = _curation_text("a", "alpha beta gamma delta")
    b = _curation_text("b", "epsilon zeta eta theta")
    c = _curation_text("c", "kappa lam mu nu")
    d = _curation_text("d", "omicron pi rho sigma")
    batches = [
        [(1, a, "s0"), (2, b, "s0")],
        [(3, c, "s1"), (4, d, "s1"), (5, b, "s1")],  # 5: exact dup
    ]
    src = tmp_path / "in"
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / f"f{i}"))

    def basis(i):
        v = [0.0] * CHUNK_EMB_DIM
        v[i] = 1.0
        return v

    codebook = [(0, basis(0)), (1, basis(1))]

    idx = LshDedupIndex(Warehouse(spark, str(tmp_path / "wh")))
    cidx = IvfIndex(idx.wh, schema="rag", name="chunks_stream")
    empty = spark.createDataFrame([], "vec_id long, e array<double>")
    cent = spark.createDataFrame(
        codebook, "centroid_id long, ce array<double>"
    )
    cidx.build(empty, centroids=cent)

    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    run_stream_to_completion(
        run_curation_stream(
            stream, idx, str(tmp_path / "ck1"), chunk_index=cidx
        )
    )

    curated = idx.wh.read(idx.schema, "curated_docs")
    assert {r["doc_id"] for r in curated.collect()} == {1, 2, 3, 4}

    # batch reference: same codebook, one ingest over the curated set
    ref = IvfIndex(
        Warehouse(spark, str(tmp_path / "ref_wh")),
        schema="rag",
        name="chunks_ref",
    )
    ref.build(empty, centroids=cent)
    ref.ingest(
        chunk_vectors_frame(
            chunk_windows_frame(curated.select("doc_id", "text"))
        )
    )

    queries = chunk_vectors_frame(
        chunk_windows_frame(curated.select("doc_id", "text"))
    ).filter(F.col("vec_id") % CHUNK_VEC_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    kw = dict(top_k=3, exclude_self=False,
              exclude_group_div=CHUNK_VEC_MOD)
    got = sorted(tuple(r) for r in cidx.search(queries, **kw).collect())
    want = sorted(tuple(r) for r in ref.search(queries, **kw).collect())
    assert got == want and got

    # full replay, fresh checkpoint → the index is unchanged.
    # refreshTable around BOTH counts: the main session's cached
    # relation would otherwise compare stale-to-stale and could never
    # catch a broken replay guard (review-caught vacuous assertion)
    spark.catalog.refreshTable(cidx.lists_name)
    n_before = spark.table(cidx.lists_name).count()
    stream2 = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    run_stream_to_completion(
        run_curation_stream(
            stream2, idx, str(tmp_path / "ck2"), chunk_index=cidx
        )
    )
    spark.catalog.refreshTable(cidx.lists_name)
    assert spark.table(cidx.lists_name).count() == n_before


def test_stream_curation_semdedup_crash_guard_excludes_own_batch(
    spark, tmp_path
):
    """Crash window for the semantic state: a trigger that died AFTER
    the semcells append but BEFORE the curated append must, on
    replay, reproduce the pre-crash decisions — never mark a doc a
    dup of its own crashed append (the state rows of the current
    batch are excluded from evaluation)."""
    from bitcoin_datawarehouse_spark.operators.lsh_index import (
        LshDedupIndex,
    )
    from bitcoin_datawarehouse_spark.streaming.curation_stream import (
        run_curation_stream,
    )

    a = _curation_text("a", "alpha beta gamma delta")
    codebook = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    emb_path = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        [(1, [1.0, 0.1])], "vec_id long, embedding array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(emb_path)

    idx = LshDedupIndex(Warehouse(spark, str(tmp_path / "wh")))
    # simulate the crashed trigger: doc 1's kept rep landed in the
    # state table but nothing else committed
    idx.wh.append(
        spark.createDataFrame(
            [(0, 1, [1.0, 0.1])],
            "centroid_id long, doc_id long, e array<double>",
        ),
        idx.schema,
        "curated_docs_semcells",
    )

    src = tmp_path / "in"
    spark.createDataFrame(
        [(1, a, "s0")], "doc_id long, text string, source string"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f0"))
    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .parquet(str(src / "*"))
    )
    run_stream_to_completion(
        run_curation_stream(
            stream,
            idx,
            str(tmp_path / "ck"),
            emb_path=emb_path,
            sem_codebook=codebook,
        )
    )
    curated = idx.wh.read(idx.schema, "curated_docs").collect()
    assert {r["doc_id"] for r in curated} == {1}  # not a self-dup
    sem = idx.wh.read(idx.schema, "curated_docs_semcells").collect()
    assert [(r["centroid_id"], r["doc_id"]) for r in sem] == [(0, 1)]
