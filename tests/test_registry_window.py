"""Driver-window invariants (registry.DRIVER_WINDOW).

The correctness driver hash-checks only the first 50 insertion-ordered
``queries()`` entries; rounds 1-2 proved that registration order silently
controls which operators get driver-verified.  These tests pin the
window's contract so a refactor can't shrink or reorder coverage
unnoticed.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import __spark_entry__ as entrymod
from bitcoin_datawarehouse_spark.registry import (
    DRIVER_WINDOW,
    ORACLES,
    QUERIES,
    ordered_queries,
)


def test_window_is_exactly_fifty():
    assert len(DRIVER_WINDOW) == 50
    assert len(set(DRIVER_WINDOW)) == 50, "duplicate window entries"


def test_window_entries_registered_and_oracled():
    for name in DRIVER_WINDOW:
        assert name in QUERIES, name
        # every in-window slot must be hash-checkable (no rows-only)
        assert name in ORACLES, f"{name} lacks a SQL oracle"


def test_entry_queries_lead_with_window():
    names = list(entrymod.queries())
    assert names[:50] == DRIVER_WINDOW
    # nothing lost: the ordering is a permutation of the registry
    assert set(names) == set(QUERIES)
    assert len(names) == len(QUERIES)


def test_ordered_queries_matches_entrypoint():
    assert list(ordered_queries()) == list(entrymod.queries())


def test_round12_rotation_is_in_window():
    """Rotation rule (r4 ADVICE, refined r6/r7 VERDICT item 8): new
    registrations AND queries materially rewritten since their last
    driver check must hold window seats until a driver round proves
    the CURRENT implementation (plus the pricing_summary decimal
    canary).  The r11 obligations all discharged via their
    CORRECTNESS_r11 green rows (50/50) — their seats rotated to the
    round-12 set below plus the stalest-vintage re-confirmation fill
    (the 20 remaining r7 rows, then the alphabetically-first r8
    rows)."""
    rotation = {
        # new in round 12: matview × frozen-classifier composition
        "pipeline_matview_classified_append",
        # rewritten in round 12: pipeline/matview.py materially
        # extended (auto buckets / pruned recompute / shared pass)
        "pipeline_matview_append_combine",
        "pipeline_matview_star_append",
        "pipeline_matview_update_recompute",
        "pipeline_matview_delete_groups",
        # rewritten in round 12: scalar attaches gained the broadcast
        # hint (functions/scalars.scalar_cross)
        "profile_key_skew",
        "dedup_method_agreement",
    }
    assert rotation <= set(DRIVER_WINDOW)
    assert "pricing_summary" in DRIVER_WINDOW


def test_every_oracle_backed_query_driver_verified_by_round4():
    """Union of driver rows recorded in prior rounds plus the current
    window must cover all oracle-backed queries — the whole point of
    the rotation."""
    import json
    import pathlib

    seen: set[str] = set(DRIVER_WINDOW)
    root = pathlib.Path(__file__).resolve().parents[1]
    for rec in sorted(root.glob("CORRECTNESS_r*.json")):
        seen |= set(json.loads(rec.read_text()))
    missing = set(ORACLES) - seen
    assert not missing, f"oracle-backed queries never driver-checked: {missing}"


def test_no_decimal_output_columns_anywhere():
    """No registered oracle may EXPOSE a decimal column: decimal128
    canonicalization (trailing-zero scale / repr) differs between
    hashers even at equal values — the root cause of 13 driver-red
    rounds-1/2 rows.  Internal decimal accumulation is fine (and
    encouraged); the output SURFACE must be engine-neutral
    (double/bigint/string).  Binder-only check: DESCRIBE every oracle
    against the smallest fixture and inspect the result column types."""
    import duckdb

    from bitcoin_datawarehouse_spark.tables import TABLES
    from tests.conftest import SF_SMALL

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'"
        )
    offenders = []
    for name, sql in ORACLES.items():
        desc = con.execute(f"DESCRIBE {sql}").fetchall()
        # HUGEINT too: DuckDB's int128 (BIGINT window sums, // division)
        # round-trips as arrow decimal128 — same hazard class
        bad = [
            (c, ty)
            for c, ty, *_ in desc
            if "DECIMAL" in ty.upper() or "HUGEINT" in ty.upper()
        ]
        if bad:
            offenders.append((name, bad))
    assert not offenders, (
        f"decimal/hugeint output columns exposed: {offenders}"
    )


def test_curation_pipeline_imports_alone():
    """A module that reads another module's registration at import
    time must import that module itself, not rely on
    ``load_all_operators``' order."""
    proc = subprocess.run(
        [sys.executable, "-c",
         "import bitcoin_datawarehouse_spark.operators.curation_pipeline"],
        cwd=Path(__file__).resolve().parents[1], capture_output=True,
        text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
