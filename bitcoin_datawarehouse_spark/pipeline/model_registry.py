"""Versioned model registry: atomic multi-table model swap + a
drift/volume refresh policy (r10 VERDICT item 2).

The persisted model families (BPE merges, NB classifier, bigram LM,
DSIR distributions) are each SEVERAL Warehouse tables (counts +
constants).  ``Warehouse.write_atomic`` makes each table's replace
atomic, but a refresh that overwrites the tables one by one exposes a
MIXED model to a concurrent reader (new counts + old constants — a
silently wrong score, the worst failure mode).  This registry makes
the whole-model swap atomic with one level of indirection:

* every part of generation ``k`` is written to its own table
  ``{name}__g{k}__{part}`` — generations never share a table;
* a 1-row POINTER table ``{name}__ptr`` names the current generation
  and its part list, flipped LAST via ``Warehouse.flip_pointer`` —
  readers see the old pointer or the new one, never a torn state;
* :meth:`ModelRegistry.resolve` reads the pointer first, then opens
  exactly that generation's part tables — all reads are PATH-based
  parquet (``Warehouse.read_with``: fresh file listing per frame, no
  catalog cache to go stale across sessions — the CLAUDE.md
  foreachBatch hazard does not apply), so a resolve during a publish
  returns a complete old model or a complete new one, never a mix;
* the previous ``keep_back`` generations are retained on publish so a
  plan resolved just before a flip keeps reading its (complete) files;
  older generations are vacuumed.  Contract: a resolved model handle
  is good for one query/trigger — holding one across more than
  ``keep_back`` refresh cycles is out of contract (its files get
  vacuumed), exactly like holding an RDD across checkpoints.

The refresh TRIGGER mirrors the registered drift monitors
(``profile_drift_tv``/``profile_drift_psi``, operators/profiling.py):
at publish time the registry stores a bounded PROFILE of the corpus
the model was fitted on (a fixed-edge log2 doc-length histogram —
≤64 rows at any corpus size); ``RefreshPolicy.decide`` compares an
arriving corpus against it with the same total-variation metric the
TV gate uses (chosen there over PSI for bit-reproducibility; here it
is a trigger, not a hash gate, so driver-side doubles are fine) plus
a volume-growth test.  Both thresholds are explicit knobs.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MODEL_SCHEMA = "models"

#: log2 doc-length histogram buckets: floor(log2(len+1)), capped so
#: the profile is bounded (64 buckets covers any text that fits in a
#: string column)
_PROFILE_BUCKETS = 64

_NAME_RE = re.compile(r"^[A-Za-z0-9_]+$")


def corpus_profile(docs: DataFrame) -> DataFrame:
    """Bounded fixed-edge histogram of a (…, text) corpus: one row
    per floor(log2(len(text)+1)) bucket — the same fixed-bucket
    snapshot shape the registered drift gates aggregate, sized ≤64
    rows at ANY corpus scale (the whole profile broadcasts, collects,
    and stores for free)."""
    bucket = F.least(
        F.floor(F.log2(F.length("text").cast("double") + F.lit(1.0))),
        F.lit(_PROFILE_BUCKETS - 1),
    ).cast("bigint")
    return (
        docs.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def profile_tv(ref: DataFrame, cur: DataFrame) -> float:
    """Total-variation distance between two bounded profiles —
    0.5·Σ|p_ref − p_cur| over the union of buckets (the
    ``profile_drift_tv`` metric, driver-side over ≤64 rows)."""
    r = {int(row["bucket"]): int(row["n"]) for row in ref.collect()}
    c = {int(row["bucket"]): int(row["n"]) for row in cur.collect()}
    nr, nc = sum(r.values()), sum(c.values())
    if nr == 0 or nc == 0:
        # an empty side is maximal drift unless both are empty
        return 0.0 if nr == nc else 1.0
    return 0.5 * sum(
        abs(r.get(b, 0) / nr - c.get(b, 0) / nc)
        for b in set(r) | set(c)
    )


@dataclass(frozen=True)
class RefreshDecision:
    refresh: bool
    reason: str
    tv: float | None = None
    growth: float | None = None


@dataclass(frozen=True)
class RefreshPolicy:
    """Refresh when the arriving corpus drifts (TV over the stored
    build profile ≥ ``tv_threshold`` — 0.1 is the conventional
    "investigate" PSI/TV alert level the drift gates document) or
    grows (count ≥ ``growth_factor`` × the build corpus)."""

    tv_threshold: float = 0.1
    growth_factor: float = 1.5

    def decide(self, build_profile: DataFrame, docs: DataFrame) -> RefreshDecision:
        cur = corpus_profile(docs)
        tv = profile_tv(build_profile, cur)
        n_build = build_profile.agg(F.sum("n")).collect()[0][0] or 0
        n_cur = docs.count()
        growth = (n_cur / n_build) if n_build else float("inf")
        if tv >= self.tv_threshold:
            return RefreshDecision(True, f"drift tv={tv:.4f}", tv, growth)
        if growth >= self.growth_factor:
            return RefreshDecision(
                True, f"volume growth={growth:.2f}x", tv, growth
            )
        return RefreshDecision(
            False, f"stable (tv={tv:.4f}, growth={growth:.2f}x)", tv, growth
        )


@dataclass(frozen=True)
class ResolvedModel:
    """One generation's complete part frames (plus its build profile
    when stored).  Good for one query/trigger — see the vacuum
    contract in the module docstring."""

    name: str
    generation: int
    parts: dict[str, DataFrame]


class ModelRegistry:
    """Generational publish/resolve over a :class:`Warehouse`."""

    def __init__(self, warehouse, schema: str = MODEL_SCHEMA) -> None:
        self.wh = warehouse
        self.schema = schema

    # -- naming --------------------------------------------------------------
    @staticmethod
    def _check(name: str) -> None:
        if not _NAME_RE.match(name):
            raise ValueError(f"model/part name {name!r} must be [A-Za-z0-9_]+")

    def _ptr_table(self, name: str) -> str:
        return f"{name}__ptr"

    def _part_table(self, name: str, gen: int, part: str) -> str:
        return f"{name}__g{gen}__{part}"

    # -- read side -----------------------------------------------------------
    def current_generation(
        self, sess: SparkSession, name: str
    ) -> int | None:
        ptr = self.wh.read_pointer(sess, self.schema, self._ptr_table(name))
        return None if ptr is None else int(ptr["gen"])

    def resolve(self, sess: SparkSession, name: str) -> ResolvedModel:
        """Open the CURRENT generation: pointer first (one atomic
        1-row read), then exactly that generation's part tables —
        complete old or complete new, never mixed.  Raises
        ``FileNotFoundError`` for a model never published."""
        self._check(name)
        ptr = self.wh.read_pointer(sess, self.schema, self._ptr_table(name))
        if ptr is None:
            raise FileNotFoundError(f"{self.schema}.{name}: model was never published")
        gen = int(ptr["gen"])
        parts = {
            p: self.wh.read_with(
                sess, self.schema, self._part_table(name, gen, p)
            )
            for p in str(ptr["parts"]).split(",")
        }
        return ResolvedModel(name, gen, parts)

    def generations(self, name: str) -> list[int]:
        """All generations with at least one part table on disk."""
        pat = re.compile(rf"^{re.escape(name)}__g(\d+)__")
        gens = set()
        for t in self.wh.list_tables(self.schema):
            m = pat.match(t)
            if m:
                gens.add(int(m.group(1)))
        return sorted(gens)

    # -- write side ----------------------------------------------------------
    def publish(
        self,
        name: str,
        parts: dict[str, DataFrame],
        docs_profile: DataFrame | None = None,
        keep_back: int = 1,
    ) -> int:
        """Write every part of the NEXT generation, flip the pointer
        LAST (the single atomic step), then vacuum generations older
        than ``keep_back`` behind the new one.  ``docs_profile``
        (from :func:`corpus_profile` over the fit corpus) rides along
        as part ``build_profile`` so the refresh policy can compare
        arrivals against what the model actually saw."""
        self._check(name)
        if not parts:
            raise ValueError("a model needs at least one part")
        for p in parts:
            self._check(p)
        sess = next(iter(parts.values())).sparkSession
        all_parts = dict(parts)
        if docs_profile is not None:
            all_parts["build_profile"] = docs_profile
        cur = self.current_generation(sess, name)
        gen = (cur or 0) + 1
        for p, df in all_parts.items():
            self.wh.write_atomic(
                df, self.schema, self._part_table(name, gen, p)
            )
        self.wh.flip_pointer(
            sess, self.schema, self._ptr_table(name),
            "gen long, parts string", gen, ",".join(sorted(all_parts)),
        )
        # vacuum: anything older than gen - keep_back is beyond the
        # in-flight-reader grace window
        self.wh.drop_generations(self.schema, f"{name}__g", gen - keep_back)
        return gen

    def refresh_if_needed(
        self,
        name: str,
        docs: DataFrame,
        build_parts: Callable[[], dict[str, DataFrame]],
        policy: RefreshPolicy | None = None,
        keep_back: int = 1,
    ) -> RefreshDecision:
        """The production re-train loop: bootstrap when the model is
        absent, else compare ``docs`` against the stored build
        profile and rebuild+publish only when the policy fires.
        Serving reads (:meth:`resolve`) are unaffected mid-swap by
        construction."""
        sess = docs.sparkSession
        if self.current_generation(sess, name) is None:
            self.publish(name, build_parts(), corpus_profile(docs), keep_back)
            return RefreshDecision(True, "bootstrap (no current generation)")
        pol = policy or RefreshPolicy()
        resolved = self.resolve(sess, name)
        prof = resolved.parts.get("build_profile")
        if prof is None:
            # a legacy generation without a profile can't be drift-
            # compared — refresh once to establish one
            self.publish(name, build_parts(), corpus_profile(docs), keep_back)
            return RefreshDecision(True, "no stored build profile")
        decision = pol.decide(prof, docs)
        if decision.refresh:
            self.publish(name, build_parts(), corpus_profile(docs), keep_back)
        return decision
