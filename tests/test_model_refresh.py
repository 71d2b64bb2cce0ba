"""Versioned model registry: atomic generational swap, drift/volume
refresh policy, family wiring, and the mid-stream model swap
(r10 VERDICT item 2).

The atomicity contract under test: a model is SEVERAL tables; a
reader must see a complete generation (old or new), never a mix.  The
registry guarantees it structurally — part tables are per-generation,
the 1-row pointer flips last via one atomic rename — so the tests
exercise the observable consequences: held handles survive a publish,
fresh resolves are generation-consistent across every part, vacuum
respects the grace window, and a live curation stream keeps running
(and changes behavior atomically) across a swap.
"""

from __future__ import annotations

import pytest

from bitcoin_datawarehouse_spark.pipeline.catalog import Warehouse
from bitcoin_datawarehouse_spark.pipeline.model_registry import (
    ModelRegistry,
    RefreshPolicy,
    corpus_profile,
    profile_tv,
)
from tests.conftest import SF_SMALL


def _marker_parts(spark, marker: int):
    """A two-part model whose every part carries the same marker —
    a mixed read would surface as disagreeing markers."""
    counts = spark.createDataFrame(
        [(f"k{i}", marker) for i in range(5)], "k string, marker long"
    )
    consts = spark.createDataFrame([(marker,)], "marker long")
    return {"counts": counts, "consts": consts}


def _markers_of(model) -> set[int]:
    vals = {
        int(r["marker"]) for r in model.parts["counts"].collect()
    }
    vals.add(int(model.parts["consts"].collect()[0]["marker"]))
    return vals


def test_publish_resolve_roundtrip_and_held_handle_survives_swap(
    spark, tmp_path
):
    reg = ModelRegistry(Warehouse(spark, str(tmp_path / "wh")))
    g1 = reg.publish("m", _marker_parts(spark, 1))
    assert g1 == 1
    held = reg.resolve(spark, "m")
    assert held.generation == 1
    assert _markers_of(held) == {1}

    g2 = reg.publish("m", _marker_parts(spark, 2))
    assert g2 == 2
    # the held (pre-swap) handle still reads its COMPLETE old
    # generation — keep_back retained its files
    assert _markers_of(held) == {1}
    fresh = reg.resolve(spark, "m")
    assert fresh.generation == 2
    assert _markers_of(fresh) == {2}


def test_resolves_are_generation_consistent_across_repeated_swaps(
    spark, tmp_path
):
    reg = ModelRegistry(Warehouse(spark, str(tmp_path / "wh")))
    for marker in range(1, 6):
        reg.publish("m", _marker_parts(spark, marker))
        model = reg.resolve(spark, "m")
        # every part of every resolve agrees on ONE marker — the
        # "never mixed" observable
        assert _markers_of(model) == {marker}
        assert model.generation == marker


def test_vacuum_keeps_only_grace_window(spark, tmp_path):
    reg = ModelRegistry(Warehouse(spark, str(tmp_path / "wh")))
    for marker in (1, 2, 3):
        reg.publish("m", _marker_parts(spark, marker), keep_back=1)
    assert reg.generations("m") == [2, 3]
    assert reg.resolve(spark, "m").generation == 3
    # keep_back=0 trims to the current generation only
    reg.publish("m", _marker_parts(spark, 4), keep_back=0)
    assert reg.generations("m") == [4]


def test_resolve_of_unpublished_model_names_it(spark, tmp_path):
    reg = ModelRegistry(Warehouse(spark, str(tmp_path / "wh")))
    with pytest.raises(FileNotFoundError, match="ghost"):
        reg.resolve(spark, "ghost")
    assert reg.current_generation(spark, "ghost") is None


def test_publish_rejects_bad_names_and_empty_parts(spark, tmp_path):
    reg = ModelRegistry(Warehouse(spark, str(tmp_path / "wh")))
    with pytest.raises(ValueError):
        reg.publish("bad name", _marker_parts(spark, 1))
    with pytest.raises(ValueError):
        reg.publish("m", {})
    with pytest.raises(ValueError):
        reg.publish("m", {"bad part": _marker_parts(spark, 1)["consts"]})


def _docs(spark, texts, start_id=0):
    return spark.createDataFrame(
        [(start_id + i, t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )


def test_refresh_policy_stable_volume_drift(spark, tmp_path):
    reg = ModelRegistry(Warehouse(spark, str(tmp_path / "wh")))
    base = _docs(spark, ["alpha beta"] * 40)
    build = lambda: _marker_parts(spark, 1)  # noqa: E731

    # bootstrap: absent model always builds
    dec = reg.refresh_if_needed("m", base, build)
    assert dec.refresh and "bootstrap" in dec.reason

    # identical corpus: stable — no rebuild, generation unchanged
    dec = reg.refresh_if_needed("m", base, lambda: _marker_parts(spark, 9))
    assert not dec.refresh
    assert reg.resolve(spark, "m").generation == 1

    # volume: same distribution, 2× the rows → growth trigger
    grown = _docs(spark, ["alpha beta"] * 80)
    dec = reg.refresh_if_needed("m", grown, lambda: _marker_parts(spark, 2))
    assert dec.refresh and "volume" in dec.reason
    assert dec.growth == pytest.approx(2.0)
    assert reg.resolve(spark, "m").generation == 2

    # drift: same row count as the NEW build corpus but radically
    # longer docs → TV trigger (length histogram shifts buckets)
    drifted = _docs(spark, ["omega " * 200] * 80)
    dec = reg.refresh_if_needed("m", drifted, lambda: _marker_parts(spark, 3))
    assert dec.refresh and "drift" in dec.reason
    assert dec.tv == pytest.approx(1.0)
    assert reg.resolve(spark, "m").generation == 3


def test_profile_tv_bounds(spark):
    a = corpus_profile(_docs(spark, ["aa bb"] * 10))
    assert profile_tv(a, a) == pytest.approx(0.0)
    b = corpus_profile(_docs(spark, ["x " * 500] * 10))
    assert profile_tv(a, b) == pytest.approx(1.0)
    empty = corpus_profile(_docs(spark, []))
    assert profile_tv(empty, empty) == pytest.approx(0.0)
    assert profile_tv(a, empty) == pytest.approx(1.0)


# -- family wiring: resolved-generation scoring ≡ fixed-table scoring -----


def test_classifier_resolved_scoring_matches_tables(spark, tmp_path):
    from bitcoin_datawarehouse_spark.operators.quality_classifier import (
        fit_quality_parts,
        save_quality_model,
        score_resolved,
        score_with,
    )
    from bitcoin_datawarehouse_spark.tables import load_table

    wh = Warehouse(spark, str(tmp_path / "wh"))
    reg = ModelRegistry(wh)
    reg.publish("quality_nb", fit_quality_parts(spark, SF_SMALL))
    save_quality_model(wh, spark, SF_SMALL)
    docs = load_table(spark, SF_SMALL, "documents").limit(60)
    got = score_resolved(reg.resolve(spark, "quality_nb"), docs)
    want = score_with(wh, docs)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_lm_resolved_scoring_matches_tables(spark, tmp_path):
    from bitcoin_datawarehouse_spark.operators.lm_quality import (
        fit_lm_parts,
        lm_score_resolved,
        lm_score_with,
        save_lm_model,
    )
    from bitcoin_datawarehouse_spark.tables import load_table

    wh = Warehouse(spark, str(tmp_path / "wh"))
    reg = ModelRegistry(wh)
    reg.publish("lm_bigram", fit_lm_parts(spark, SF_SMALL))
    save_lm_model(wh, spark, SF_SMALL)
    docs = load_table(spark, SF_SMALL, "documents").limit(60)
    got = lm_score_resolved(reg.resolve(spark, "lm_bigram"), docs)
    want = lm_score_with(wh, docs)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_dsir_resolved_scoring_matches_tables(spark, tmp_path):
    from bitcoin_datawarehouse_spark.operators.dsir import (
        dsir_score_resolved,
        dsir_score_with,
        dsir_threshold,
        dsir_threshold_resolved,
        fit_dsir_parts,
        save_dsir_model,
    )
    from bitcoin_datawarehouse_spark.tables import load_table

    wh = Warehouse(spark, str(tmp_path / "wh"))
    reg = ModelRegistry(wh)
    reg.publish("dsir", fit_dsir_parts(spark, SF_SMALL))
    save_dsir_model(wh, spark, SF_SMALL)
    docs = load_table(spark, SF_SMALL, "documents").limit(60)
    model = reg.resolve(spark, "dsir")
    got = dsir_score_resolved(model, docs)
    want = dsir_score_with(wh, docs)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert dsir_threshold_resolved(model) == dsir_threshold(wh, spark)


def test_bpe_resolved_encode_matches_tables(spark, tmp_path):
    from bitcoin_datawarehouse_spark.operators.bpe import (
        bpe_parts_from_merges,
        bpe_train_auto,
        bpe_word_table,
        encode_resolved,
        encode_with,
        save_bpe_merges,
    )
    from bitcoin_datawarehouse_spark.tables import load_table

    wh = Warehouse(spark, str(tmp_path / "wh"))
    reg = ModelRegistry(wh)
    merges = bpe_train_auto(bpe_word_table(spark, SF_SMALL), 6)
    reg.publish("bpe_tokenizer", bpe_parts_from_merges(spark, merges))
    save_bpe_merges(wh, spark, merges)
    docs = load_table(spark, SF_SMALL, "documents").limit(40)
    got = encode_resolved(reg.resolve(spark, "bpe_tokenizer"), docs)
    want = encode_with(wh, docs)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


# -- the live-stream swap ---------------------------------------------------


def _nb_gate_parts(spark, dpos: int, dneg: int):
    """A hand-crafted NB model whose decision is ONLY the class prior
    (empty vocabulary, symmetric token counts): dpos > dneg keeps
    every doc, dpos < dneg drops every doc — a controlled gate for
    swap tests."""
    cls = spark.createDataFrame([], "tok string, cpos long, cneg long")
    consts = spark.createDataFrame(
        [(1, 1, 1, dpos, dneg)],
        "npos long, nneg long, v long, dpos long, dneg long",
    )
    return {"cls": cls, "consts": consts}


def test_curation_stream_stays_green_across_model_swap(spark, tmp_path):
    """The production re-train loop under a LIVE serve path: a
    registry-gated curation stream keeps running across an atomic
    model swap, and the gate's behavior flips exactly at a trigger
    boundary — batch 1 curated under the keep-all generation, batch 2
    judged by the drop-all generation published between triggers."""
    from bitcoin_datawarehouse_spark.operators.lsh_index import (
        LshDedupIndex,
    )
    from bitcoin_datawarehouse_spark.streaming.curation_stream import (
        run_curation_stream,
    )
    from bitcoin_datawarehouse_spark.streaming.jobs import (
        run_stream_to_completion,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    reg = ModelRegistry(wh)
    reg.publish("gate_nb", _nb_gate_parts(spark, dpos=4, dneg=1))

    body1 = "alpha beta gamma delta " * 10
    body2 = "epsilon zeta eta theta " * 10
    src = tmp_path / "in"
    spark.createDataFrame(
        [(1, body1, "s0")], "doc_id long, text string, source string"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f0"))

    idx = LshDedupIndex(wh)

    def _run():
        stream = (
            spark.readStream.schema(
                "doc_id long, text string, source string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        run_stream_to_completion(
            run_curation_stream(
                stream,
                idx,
                str(tmp_path / "ck"),
                quality_model="gate_nb",
                quality_registry=reg,
            )
        )

    _run()
    curated = {
        int(r["doc_id"]) for r in wh.read("dedup_index", "curated_docs").collect()
    }
    assert curated == {1}

    # atomic swap to the drop-all generation while the stream's
    # checkpoint is live, then more arrivals
    reg.publish("gate_nb", _nb_gate_parts(spark, dpos=1, dneg=4))
    spark.createDataFrame(
        [(2, body2, "s1")], "doc_id long, text string, source string"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    _run()
    curated = {
        int(r["doc_id"]) for r in wh.read("dedup_index", "curated_docs").collect()
    }
    # doc 2 arrived under the drop-all generation → gated out; doc 1
    # stays curated (history untouched by the swap)
    assert curated == {1}


def test_lm_hot_head_safe_plan_is_equivalent(spark):
    """The skew escape hatch (fit_lm_parts(hot_head_safe=True), r10
    VERDICT item 4) must produce bit-identical model tables — only
    the exchange layout differs."""
    from bitcoin_datawarehouse_spark.operators.lm_quality import (
        fit_lm_parts,
    )

    a = fit_lm_parts(spark, SF_SMALL)
    b = fit_lm_parts(spark, SF_SMALL, hot_head_safe=True)
    for part in ("uni", "big", "consts"):
        assert sorted(map(tuple, a[part].collect())) == sorted(
            map(tuple, b[part].collect())
        ), part


def test_fit_quality_parts_frame_matches_fixture_fit(spark):
    """The frame-shaped trainer (the streaming refresh loop's builder)
    must equal the fixture-reading trainer bit-for-bit when handed the
    same corpus."""
    from bitcoin_datawarehouse_spark.operators.quality_classifier import (
        fit_quality_parts,
        fit_quality_parts_frame,
    )
    from bitcoin_datawarehouse_spark.tables import load_table

    a = fit_quality_parts(spark, SF_SMALL)
    b = fit_quality_parts_frame(
        load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    )
    for part in ("cls", "consts"):
        assert sorted(map(tuple, a[part].collect())) == sorted(
            map(tuple, b[part].collect())
        ), part


def test_model_refresh_stream_bootstraps_and_refreshes_on_volume(
    spark, tmp_path
):
    """The in-stream maintenance loop: trigger 1 bootstraps generation
    1, a small second batch leaves the model stable, a large third
    batch fires the volume trigger and publishes generation 2 — and a
    full replay from a fresh checkpoint is a corpus no-op that leaves
    the generation unchanged (the stored build profile matches the
    unchanged corpus)."""
    from bitcoin_datawarehouse_spark.streaming.jobs import (
        run_stream_to_completion,
    )
    from bitcoin_datawarehouse_spark.streaming.model_refresh_stream import (
        REFRESH_SCHEMA,
        run_model_refresh_stream,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    reg = ModelRegistry(wh)
    builds = {"n": 0}

    def build(corpus):
        # marker = build sequence number; a real family builder
        # (fit_quality_parts_frame) is pinned equal to the batch
        # trainer in its own test — here the mechanics are under test
        builds["n"] += 1
        return _marker_parts(spark, builds["n"])

    src = tmp_path / "in"
    batches = [
        [(i, "alpha beta gamma") for i in range(20)],
        [(100 + i, "alpha beta gamma") for i in range(2)],   # +10%
        [(200 + i, "alpha beta gamma") for i in range(40)],  # ~2.8x
    ]

    def _arrive(i):
        spark.createDataFrame(
            batches[i], "doc_id long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / f"f{i}"))

    def _drain(ck="ck"):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        run_stream_to_completion(
            run_model_refresh_stream(
                stream,
                reg,
                "gate_nb",
                lambda corpus: build(corpus),
                str(tmp_path / ck),
                RefreshPolicy(tv_threshold=0.5, growth_factor=1.5),
            )
        )

    _arrive(0)
    _drain()
    assert reg.resolve(spark, "gate_nb").generation == 1

    _arrive(1)  # +2 docs: under the growth factor → stable
    _drain()
    assert reg.resolve(spark, "gate_nb").generation == 1

    _arrive(2)  # 62 docs vs the 20-doc build corpus → volume trigger
    _drain()
    assert reg.resolve(spark, "gate_nb").generation == 2
    assert builds["n"] == 2  # bootstrap + one refresh, nothing else

    log = sorted(
        (
            int(r["batch_id"]),
            int(r["corpus_docs"]),
            bool(r["refreshed"]),
            int(r["generation"]),
        )
        for r in wh.read(REFRESH_SCHEMA, "gate_nb_refresh_log").collect()
    )
    assert [(c, r, g) for _, c, r, g in log] == [
        (20, True, 1),   # bootstrap
        (22, False, 1),  # stable
        (62, True, 2),   # volume refresh
    ]

    # replay from a fresh checkpoint: corpus append is idempotent and
    # the profile matches generation 2's build corpus → no new builds
    _drain(ck="ck2")
    assert reg.resolve(spark, "gate_nb").generation == 2
    assert builds["n"] == 2
    corpus_rows = wh.read(REFRESH_SCHEMA, "gate_nb_refresh_corpus").count()
    assert corpus_rows == 62


def test_pipeline_run_consults_model_refresh(spark, tmp_path):
    """r11 VERDICT item 8, closed: Pipeline.run consults the attached
    ModelRefreshSpec after each sync — bootstrap on the first run, a
    stable no-op when nothing changed, a retrain when the corpus
    grows past the policy, and a new generation served atomically."""
    from pyspark.sql import functions as F

    from bitcoin_datawarehouse_spark.pipeline.jobs import (
        JobControl,
        ModelRefreshSpec,
        Pipeline,
    )
    from bitcoin_datawarehouse_spark.pipeline.model_registry import (
        RefreshPolicy,
    )
    from bitcoin_datawarehouse_spark.pipeline.source import StaticSource

    wh = Warehouse(spark, str(tmp_path / "wh"))
    reg = ModelRegistry(wh)
    rows = [
        {"id": i, "date": f"2025-01-0{i}", "text": "alpha beta " * i}
        for i in range(1, 4)
    ]

    def source_fn(params):
        return list(rows)

    src = StaticSource({7: source_fn})
    JobControl(spark, wh).seed([
        {"job_name": "docs", "query_id": 7, "target_table": "docs",
         "p_key": "id", "status": 0, "active": 1,
         "incremental_column": "date"},
    ])
    builds: list[int] = []

    def build_parts(docs):
        builds.append(docs.count())
        return {
            "stats": docs.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs")
            )
        }

    spec = ModelRefreshSpec(
        name="doc_stats",
        registry=reg,
        docs_for=lambda s, w: w.read("bitcoin", "docs"),
        build_parts=build_parts,
        policy=RefreshPolicy(tv_threshold=0.5, growth_factor=1.5),
        watch_jobs=frozenset({"docs"}),
    )
    pipe = Pipeline(spark, wh, src, model_refresh=[spec])

    pipe.run()  # first sync: 3 docs -> bootstrap generation 1
    assert pipe.last_refresh["doc_stats"].refresh
    assert reg.current_generation(spark, "doc_stats") == 1
    assert builds == [3]

    pipe.run()  # same rows re-synced: stable, no retrain
    assert not pipe.last_refresh["doc_stats"].refresh
    assert reg.current_generation(spark, "doc_stats") == 1
    assert builds == [3]

    rows.extend(
        {"id": 10 + i, "date": "2025-01-09", "text": "gamma " * (8 + i)}
        for i in range(5)
    )
    pipe.run()  # corpus grew 8/3 = 2.7x >= 1.5 -> retrain, generation 2
    assert pipe.last_refresh["doc_stats"].refresh
    assert reg.current_generation(spark, "doc_stats") == 2
    assert builds == [3, 8]
    served = reg.resolve(spark, "doc_stats")
    assert served.parts["stats"].collect()[0]["n_docs"] == 8


def test_pipeline_model_refresh_failure_is_not_fatal(spark, tmp_path):
    """A fit-parts failure must not poison the run: tables stay
    synced, the error is recorded, the old generation keeps serving."""
    from bitcoin_datawarehouse_spark.pipeline.jobs import (
        JobControl,
        ModelRefreshSpec,
        Pipeline,
    )
    from bitcoin_datawarehouse_spark.pipeline.source import StaticSource

    wh = Warehouse(spark, str(tmp_path / "wh"))
    reg = ModelRegistry(wh)
    src = StaticSource(
        {7: [{"id": 1, "date": "2025-01-01", "text": "alpha"}]}
    )
    JobControl(spark, wh).seed([
        {"job_name": "docs", "query_id": 7, "target_table": "docs",
         "p_key": "id", "status": 0, "active": 1,
         "incremental_column": "date"},
    ])

    def broken_build(docs):
        raise RuntimeError("fit exploded")

    spec = ModelRefreshSpec(
        name="doc_stats",
        registry=reg,
        docs_for=lambda s, w: w.read("bitcoin", "docs"),
        build_parts=broken_build,
    )
    pipe = Pipeline(spark, wh, src, model_refresh=[spec])
    results = pipe.run()
    assert all(r.ok for r in results)  # the sync itself succeeded
    assert isinstance(pipe.last_refresh["doc_stats"], RuntimeError)
    assert reg.current_generation(spark, "doc_stats") is None
