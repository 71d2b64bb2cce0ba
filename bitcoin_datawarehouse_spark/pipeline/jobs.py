"""Job control table + pipeline runner.

Reference parity (SURVEY.md §1.4, §2.2, §3): the reference drives
syncs from ``etl.etl_job`` (seeded by ``etl_system/etl_job.csv``) —
scan active jobs (``pull_raw/utils.py:34-38``), mark start
(status=-1, ``:80-85``) / end (status=1, ``:120-125``), and run each
table with continue-on-error (``pull_raw/__main__.py:173-177``).
Incremental runs read the target's MAX(incremental_column) watermark
and push it to the source as a parameter
(``__main__.py:102,114-115``); a missing watermark falls back to full
refresh (``:105-112``).

Design fixes over the reference, deliberate (SURVEY §3 drift bugs):
an explicit ``LoadStrategy`` enum instead of a boolean doubling as a
sentinel; a single ``run_job`` composing fetch→transform→load; and
``error_message``/status actually recorded on failure (the reference
declares the column but never writes it).

The control table is a small parquet ledger (one row per job), so
driver-side mutation is correct; the *data* path stays fully
distributed.  A run reads the ledger once (``tables_to_sync``) and
holds its rows until ``release``.  While the ledger is held, a
start/end/fail mark edits the held rows only, and ``flush`` overwrites
the table from them; a mark outside a run reads the ledger and writes
it at once.  :meth:`Pipeline.run` writes the ledger twice: once with
every selected job at status -1 before any job starts, once with every
end/fail mark (error text included) after the last job finishes.

Lanes: :meth:`Pipeline.run` groups its jobs by target table.  One lane
runs the jobs of one target in ledger order, so two loads of a target
never overlap; the lanes run concurrently from a driver thread pool, so
independent targets overlap their source waits and their small Spark
jobs.  Each lane inherits the caller's Spark local properties (job
group, description) and session tags.

Watermark: a load observes MAX(incremental_column) on its own write, in
the observation that also counts its rows, and ``run_job`` keeps it in
the ledger (``watermark``) with a token of the target's data-file names
taken right after the swap (``watermark_token``).  The next run uses
that value while the target's file names still match the token.  Any
other writer (an append, a delete, a rollback, a direct load) renames
the files, and the run falls back to the exact MAX probe.  The token is
built from names, not inodes, so a copied warehouse keeps it valid.

Crash semantics: a crash mid-run leaves the selected jobs at status -1
(the second ledger write never happened).  A job whose load finished
before the crash re-runs on the next run: its target's files no longer
match the ledger's token, so it probes the watermark and merges
idempotently (a keyless job replaces its target again).
"""

from __future__ import annotations

import datetime as dt
import enum
import logging
import threading
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any

from pyspark.sql import SparkSession, functions as F
from pyspark.util import inheritable_thread_target

from bitcoin_datawarehouse_spark.functions.localframe import local_rows_df
from bitcoin_datawarehouse_spark.pipeline.catalog import Warehouse
from bitcoin_datawarehouse_spark.pipeline.loader import Loader
from bitcoin_datawarehouse_spark.pipeline.source import fetch_as_df
from bitcoin_datawarehouse_spark.pipeline.transform import (
    TableSpec,
    lowercase_columns,
    with_audit_column,
)

_LOG = logging.getLogger(__name__)

ETL_SCHEMA = "etl"
JOB_TABLE = "etl_job"

#: reference status protocol (pull_raw/utils.py:80-85,120-125)
STATUS_RUNNING = -1
STATUS_DONE = 1
STATUS_FAILED = 2  # extension: the reference never records failure

#: "the current instant" in a control-row update (a sentinel object, so
#: no value a caller passes — an error text included — can mean it)
NOW = object()


class LoadStrategy(enum.Enum):
    FULL_REFRESH = "full_refresh"
    INCREMENTAL = "sync_incremental"


@dataclass
class JobResult:
    job_name: str
    ok: bool
    rows_loaded: int
    error: str | None = None


@dataclass(frozen=True)
class ModelRefreshSpec:
    """Close the model-lifecycle loop (r11 VERDICT item 8): attach a
    registry-managed model to the pipeline so every :meth:`Pipeline.run`
    consults drift/volume AFTER its syncs and retrains through the
    registered fit-parts builder only when the policy fires.

    * ``docs_for(spark, wh)`` reads the serving corpus (usually the
      just-synced target table);
    * ``build_parts(docs)`` fits the model's part frames from it (the
      same builders ``ModelRegistry.publish`` takes);
    * ``watch_jobs`` limits the check to runs where one of the named
      jobs synced rows (None = any successful sync);
    * the decision rides ``ModelRegistry.refresh_if_needed`` — atomic
      generation publish, serving reads unaffected mid-swap.
    """

    name: str
    registry: Any  # ModelRegistry (Any avoids a hard import cycle)
    docs_for: Any  # Callable[[SparkSession, Warehouse], DataFrame]
    build_parts: Any  # Callable[[DataFrame], dict[str, DataFrame]]
    policy: Any | None = None  # RefreshPolicy
    watch_jobs: frozenset[str] | None = None
    keep_back: int = 1


class JobControl:
    """The ``etl.etl_job`` analog."""

    def __init__(self, spark: SparkSession, wh: Warehouse) -> None:
        self.spark = spark
        self.wh = wh
        #: (schema, rows) of the whole ledger, held from
        #: ``tables_to_sync`` until ``release`` (the length of a run)
        self._held: tuple[Any, list[dict[str, Any]]] | None = None
        #: marks come from every lane of a run
        self._lock = threading.Lock()

    def seed(self, rows: list[dict[str, Any]]) -> None:
        """Seed the registry (reference load_metadata.ipynb: CSV →
        lowercase columns → stamp last_updated_ts → load)."""
        # localframe-exempt: seeding relies on Spark's dict-row type
        # INFERENCE (no DDL to give local_rows_df, and pandas would
        # infer differently, e.g. None-bearing ints to float); runs
        # once per deployment, so the slice tax is irrelevant
        df = self.spark.createDataFrame(rows)  # type: ignore[arg-type]
        self._seed_df(df)

    def seed_from_csv(self, csv_path: str) -> None:
        self._seed_df(self.spark.read.csv(csv_path, header=True, inferSchema=True))

    def _seed_df(self, df) -> None:
        self._held = None
        df = _ensure_ledger_columns(with_audit_column(lowercase_columns(df)))
        self.wh.write_atomic(df, ETL_SCHEMA, JOB_TABLE, coalesce=1)

    def _read_ledger(self) -> tuple[Any, list[dict[str, Any]]]:
        df = _ensure_ledger_columns(self.wh.read(ETL_SCHEMA, JOB_TABLE))
        return df.schema, [r.asDict() for r in df.collect()]

    def tables_to_sync(self, select: list[str] | None = None):
        """Active-job scan (reference pull_raw/utils.py:18-63) with the
        CLI ``--select`` subsetting (reference arguments.py:26-33).
        The ledger it reads is held for the start/end/fail marks that
        follow, which :meth:`flush` writes, until :meth:`release`."""
        self._held = self._read_ledger()
        out = [dict(r) for r in self._held[1] if r["active"] == 1]
        if select:
            out = [r for r in out if r["job_name"] in select]
        return out

    def release(self) -> None:
        """Drop the held ledger (and any mark not yet flushed); a later
        mark re-reads the table."""
        self._held = None

    def flush(self) -> None:
        """Overwrite the ledger from the held rows."""
        with self._lock:
            self._write(*self._held)

    def _write(self, schema, rows: list[dict[str, Any]]) -> None:
        names = schema.fieldNames()
        df = local_rows_df(self.spark, [[r[c] for c in names] for r in rows], schema)
        self.wh.write_atomic(df, ETL_SCHEMA, JOB_TABLE, coalesce=1)

    def _update_job(self, job_names: tuple[str, ...], **sets: Any) -> None:
        """Set ``sets`` on the rows of ``job_names`` (``NOW`` → the
        driver clock's current instant).  A held ledger keeps the edit
        until :meth:`flush`; otherwise the ledger is read and
        overwritten at once."""
        with self._lock:
            schema, rows = self._held or self._read_ledger()
            now = dt.datetime.now(dt.timezone.utc)
            for r in rows:
                if r["job_name"] in job_names:
                    r.update({c: now if v is NOW else v for c, v in sets.items()})
            if self._held is None:
                self._write(schema, rows)

    def start_job(self, *job_names: str) -> None:
        """status=-1, start_ts=NOW() (reference utils.py:80-85)."""
        self._update_job(job_names, status=STATUS_RUNNING, start_ts=NOW)

    def end_job(self, job_name: str, **watermark: Any) -> None:
        """status=1, end_ts=NOW() (reference utils.py:120-125);
        ``watermark``/``watermark_token`` keyword values are stored with
        it."""
        self._update_job((job_name,), status=STATUS_DONE, end_ts=NOW, **watermark)

    def fail_job(self, job_name: str, error: str) -> None:
        self._update_job(
            (job_name,), status=STATUS_FAILED, end_ts=NOW, error_message=error[:2000]
        )

    def job_status(self, job_name: str) -> dict[str, Any] | None:
        rows = (
            self.wh.read(ETL_SCHEMA, JOB_TABLE)
            .filter(F.col("job_name") == job_name)
            .collect()
        )
        return rows[0].asDict() if rows else None


#: run-ledger columns the reference declares in etl_job.csv:1, plus the
#: watermark kept from the last load (typed null when the seed or an
#: older ledger omits them, so start/end/fail updates resolve)
_LEDGER_COLUMNS = {
    "status": "bigint",
    "start_ts": "timestamp",
    "end_ts": "timestamp",
    "error_message": "string",
    "watermark": "string",
    "watermark_token": "string",
}


def _ensure_ledger_columns(df):
    for col, typ in _LEDGER_COLUMNS.items():
        if col not in df.columns:
            df = df.withColumn(col, F.lit(None).cast(typ))
    return df


def _watermark_token(loader: Loader, inc_col: str | None) -> str | None:
    """The incremental column plus the target's data-file token: a
    stored watermark is valid for this column over exactly these
    files."""
    files = loader.wh.file_token(loader.schema, loader.table)
    if not inc_col or files is None:
        return None
    return f"{inc_col}:{files}"


class Pipeline:
    """fetch → transform → load per job, concurrent across target
    tables; continue-on-error across jobs."""

    def __init__(
        self,
        spark: SparkSession,
        wh: Warehouse,
        source: Any,
        target_schema: str = "bitcoin",
        specs: dict[str, TableSpec] | None = None,
        model_refresh: list[ModelRefreshSpec] | None = None,
    ) -> None:
        self.spark = spark
        self.wh = wh
        self.source = source
        self.target_schema = target_schema
        self.specs = specs or {}
        self.control = JobControl(spark, wh)
        self.model_refresh = model_refresh or []
        #: per-run model decisions, keyed by model name (read after run())
        self.last_refresh: dict[str, Any] = {}

    def run_job(
        self,
        job: dict[str, Any],
        strategy: LoadStrategy = LoadStrategy.INCREMENTAL,
        incremental_column: str | None = None,
        incremental_value: str | None = None,
    ) -> JobResult:
        name = job["job_name"]
        loader = Loader(self.wh, self.target_schema, job["target_table"])
        self.control.start_job(name)
        try:
            parameters = None
            effective = strategy
            keys = [
                k.strip()
                for k in str(job.get("p_key") or "").split(",")
                if k.strip()
            ]
            inc_col = incremental_column or job.get("incremental_column")
            # ledger marks for a batch that leaves the target as it is
            probed: dict[str, Any] = {}
            # watermark pushdown is only safe when the load can MERGE:
            # without merge keys the load is a full replace, and
            # replacing the table with a delta-only fetch would destroy
            # history — so keyless jobs always fetch everything
            if strategy is LoadStrategy.INCREMENTAL and keys:
                if incremental_value is not None and not inc_col:
                    # a watermark override for a job with NO incremental
                    # column would silently turn its full fetch into a
                    # delta keyed only by the source's param column —
                    # ignore it loudly instead
                    _LOG.warning(
                        "--incremental-value %r ignored for job %s: no "
                        "incremental column defined",
                        incremental_value,
                        name,
                    )
                if incremental_value is not None and inc_col:
                    # explicit initial-watermark override (reference
                    # --incremental-value, arguments.py:26-33: "load
                    # data of last year/month for developing purpose")
                    # — drives a delta fetch from the SUPPLIED value,
                    # including on a first sync where the MAX probe
                    # would otherwise force a full refresh
                    parameters = incremental_value
                else:
                    last, probed = self._watermark(job, loader, inc_col)
                    if last is None:
                        # first-sync fallback (reference __main__.py:105-112)
                        effective = LoadStrategy.FULL_REFRESH
                    else:
                        parameters = str(last)
            df = fetch_as_df(
                self.spark, self.source, int(job["query_id"]), parameters
            )
            if df is None:
                # empty-batch short-circuit (dune_to_pg_worker.py:87-89)
                self.control.end_job(name, **probed)
                return JobResult(name, True, 0)
            spec = self.specs.get(name)
            if spec is not None:
                df = spec.apply(df)
            df = with_audit_column(df)
            if effective is LoadStrategy.FULL_REFRESH or not keys:
                n = loader.load_full_refresh(df, watermark_col=inc_col)
            else:
                n = loader.load_incremental(df, keys, watermark_col=inc_col)
            written = loader.written_max
            self.control.end_job(
                name,
                watermark=None if written is None else str(written),
                watermark_token=_watermark_token(loader, inc_col),
            )
            return JobResult(name, True, n)
        except Exception as e:  # noqa: BLE001 — continue-on-error per table
            self.control.fail_job(name, f"{e}\n{traceback.format_exc()}")
            return JobResult(name, False, 0, str(e))

    @staticmethod
    def _watermark(
        job: dict[str, Any], loader: Loader, inc_col: str | None
    ) -> tuple[Any, dict[str, Any]]:
        """(the target's MAX(``inc_col``), the ledger marks that keep a
        probed value): the ledger's value while the target's files still
        match the token stored with it, else the exact probe."""
        if not inc_col:
            return None, {}
        token = _watermark_token(loader, inc_col)
        if (
            token is not None
            and job.get("watermark") is not None
            and job.get("watermark_token") == token
        ):
            return job["watermark"], {}
        last = loader.get_max_value(inc_col)
        return last, {
            "watermark": None if last is None else str(last),
            "watermark_token": token,
        }

    def run(
        self,
        select: list[str] | None = None,
        strategy: LoadStrategy = LoadStrategy.INCREMENTAL,
        incremental_column: str | None = None,
        incremental_value: str | None = None,
    ) -> list[JobResult]:
        """Sync every active job (reference run_pipeline,
        __main__.py:132-184); a failed table logs and the other jobs
        continue (``:173-177``).  Results come back in ledger order.

        The jobs run in concurrent lanes, one per target table; the
        jobs of one target run in ledger order inside its lane (module
        docstring).  The ledger is written twice: every selected job at
        status -1 before the lanes start, every end/fail mark after they
        finish (with each job's ``start_ts`` as its lane started it).  A
        crash in between leaves the selected jobs at -1, and the next
        run redoes them idempotently.

        The whole run holds the warehouse's advisory lock: the control
        table is overwritten from the ledger read at the start of the
        run and the targets are merged by overwrite, so two concurrent
        pipelines over one warehouse would corrupt each other (the
        reference leaned on Postgres transactions here).
        """
        with self.wh.lock("pipeline"):
            results: list[JobResult] = []
            try:
                jobs = self.control.tables_to_sync(select)
                if jobs:
                    self.control.start_job(*(j["job_name"] for j in jobs))
                    self.control.flush()
                    results = self._run_lanes(
                        jobs, strategy, incremental_column, incremental_value
                    )
                    self.control.flush()
            finally:
                self.control.release()
            self._maybe_refresh_models(results)
            return results

    def _run_lanes(self, jobs: list[dict[str, Any]], *args: Any) -> list[JobResult]:
        """``run_job(job, *args)`` over ``jobs``: one lane per target,
        in ledger order inside a lane, lanes concurrent on
        ``min(lanes, defaultParallelism)`` driver threads.  Returns the
        results in ``jobs`` order."""
        lanes: dict[tuple[str, str], list[int]] = {}
        for i, job in enumerate(jobs):
            lanes.setdefault((self.target_schema, job["target_table"]), []).append(i)
        results: list[Any] = [None] * len(jobs)

        def lane(indices: list[int]) -> None:
            for i in indices:
                results[i] = self.run_job(jobs[i], *args)

        threads = min(len(lanes), self.spark.sparkContext.defaultParallelism)
        with ThreadPoolExecutor(max_workers=threads) as pool:
            # wrapped per lane: each lane gets its own copy of the
            # caller's local properties (job group, description) + tags
            futures = [
                pool.submit(inheritable_thread_target(self.spark)(lane), idx)
                for idx in lanes.values()
            ]
            for f in futures:
                f.result()
        return results

    def _maybe_refresh_models(self, results: list[JobResult]) -> None:
        """Consult every attached :class:`ModelRefreshSpec` after the
        sync loop (still under the pipeline lock — a publish is a
        warehouse mutation).  A model-refresh failure is recorded like
        a job failure, never fatal to the run: the synced tables are
        good and the previous generation keeps serving."""
        self.last_refresh = {}
        synced_ok = {r.job_name for r in results if r.ok and r.rows_loaded > 0}
        for spec in self.model_refresh:
            if spec.watch_jobs is not None and not (
                set(spec.watch_jobs) & synced_ok
            ):
                continue
            try:
                docs = spec.docs_for(self.spark, self.wh)
                decision = spec.registry.refresh_if_needed(
                    spec.name,
                    docs,
                    lambda docs=docs, spec=spec: spec.build_parts(docs),
                    policy=spec.policy,
                    keep_back=spec.keep_back,
                )
                self.last_refresh[spec.name] = decision
                _LOG.info(
                    "model %s: refresh=%s (%s)",
                    spec.name,
                    decision.refresh,
                    decision.reason,
                )
            except Exception as e:  # noqa: BLE001 — continue-on-error
                self.last_refresh[spec.name] = e
                _LOG.warning("model %s refresh failed: %s", spec.name, e)
