"""Benchmark entry point.

    python3 perfbench/run.py --workload warehouse_sync --seed 1 --seconds 5 --trace 0

Run from the repository root.  Prints one line per metric (name, value,
unit), an environment line, and as its last line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
``--smoke`` shrinks every input for the self-test.  Everything it writes
goes under ``.perfbench_work/`` (removed at exit) and ``.perfbench_out/``
(results and spans) in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parents[1]
DRIVER_MEMORY = "3g"  # pinned below the RAM of a 15 GB, 4-core box
#: no extra timed round starts later than this after start, so a run
#: under heavy steal still ends well inside 180 s
EXTEND_UNTIL_S = 100.0


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["warehouse_sync", "corpus_curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    return ap.parse_args(argv)


def program_missing() -> str | None:
    for rel in ("bitcoin_datawarehouse_spark/__init__.py",
                "bitcoin_datawarehouse_spark/session.py",
                "examples/bitcoin_warehouse_demo.py"):
        if not (ROOT / rel).is_file():
            return rel
    return None


def git_sha() -> str:
    """Commit of the tree in a git checkout (read from ``.git``), else a
    digest of the program's sources (an exported checkout has no .git)."""
    git = ROOT / ".git"
    try:
        head = (git / "HEAD").read_text().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if (git / ref).is_file():
            return (git / ref).read_text().strip()
        for line in (git / "packed-refs").read_text().splitlines():
            if line.endswith(" " + ref):
                return line.split()[0]
    except OSError:
        pass
    import hashlib

    h = hashlib.sha256()
    for p in sorted((ROOT / "bitcoin_datawarehouse_spark").rglob("*.py")):
        h.update(p.read_bytes())
    return "tree:" + h.hexdigest()[:16]


def setup_env(work: Path, cpus: int) -> None:
    """Pin the process environment before pyspark starts its JVM."""
    for d in ("tmp", "spark-local", "spark-warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE_DIR"] = str(work / "spark-warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM (spark-submit's launcher too): temp files in the work dir,
    # no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    # the Spark Python workers import the operator modules' kernels
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def stop_spark(spark, tree) -> None:
    """Stop Spark, shut the JVM down and wait until every descendant
    process (JVM, Python workers) has ended."""
    from pyspark import SparkContext

    pids = [p for p in tree.pids() if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        alive = [p for p in pids if Path(f"/proc/{p}").exists() and _not_zombie(p)]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _not_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    missing = program_missing()
    if missing:
        print(f"perfbench: program not found ({missing} missing under {ROOT})", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    cpus = min(4, os.cpu_count() or 1)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    setup_env(work, cpus)
    load_start = os.getloadavg()
    try:
        result, env, tracer = run_workload(args, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    env["load_avg_start"] = [round(x, 2) for x in load_start]
    env["load_avg_end"] = [round(x, 2) for x in os.getloadavg()]
    out_dir = ROOT / ".perfbench_out"
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    out_dir.mkdir(exist_ok=True)
    if tracer is not None:
        tracer.dump(out_dir / f"{stem}.spans.json")
    (out_dir / f"{stem}.json").write_text(json.dumps({"env": env, **result}, indent=1))
    for name, m in result["metrics"].items():
        print(f"{name:44s} {m['value']:>16.6g} {m['unit']}")
    for name, v in env.get("trace_self_s_per_op", {}).items():
        print(f"{'self-time ' + name:44s} {v:>16.6g} s")
    print("env " + json.dumps(env, sort_keys=True))
    print(json.dumps(result))
    return 0


def run_workload(args, work: Path, cpus: int):
    from perfbench import workloads
    from perfbench.metrics import (
        ProcTree, SparkMeter, geomean_of_medians, latencies_by_type, steal_s, tail_percentile,
    )

    scale = workloads.SMOKE if args.smoke else workloads.FULL
    wl = workloads.make(args.workload, scale)
    log = workloads.RunLog()
    tree = ProcTree()

    steal0 = steal_s()
    phases = {"imports": time.perf_counter() - T_START}
    wl.make_inputs(work, args.seed)
    phases["inputs"] = time.perf_counter() - T_START

    from bitcoin_datawarehouse_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        cpus=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # status-store retention only; the meter reads it after each window
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    session_s = time.perf_counter() - t0
    phases["session"] = time.perf_counter() - T_START
    tracer = None
    try:
        meter = SparkMeter(spark)
        prep_s = workloads.prep_median(wl, spark, log)
        setup_s = session_s + prep_s
        phases["prep"] = time.perf_counter() - T_START

        warm_t0 = time.perf_counter()
        wl.warm_and_check(spark, meter, log)
        warm_s = time.perf_counter() - warm_t0
        phases["warm"] = time.perf_counter() - T_START

        exec0 = meter.last_execution_id()
        cpu0, pycpu0 = tree.cpu_s(), tree.python_worker_cpu_s()
        window = workloads.measure(wl, spark, meter, args.seconds, log,
                                   extend_until=T_START + EXTEND_UNTIL_S)
        cpu1, pycpu1 = tree.cpu_s(), tree.python_worker_cpu_s()
        exec1 = meter.last_execution_id()
        phases["window"] = time.perf_counter() - T_START

        traced_window = 0.0
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(op_id=lambda: meter.group)
            tracer.install()
            try:
                traced_window = wl.run_round(spark, meter, "traced", log.traced)
            finally:
                tracer.restore()

        wl.final_check(spark, log)
        phases["check"] = time.perf_counter() - T_START

        counters = [meter.group_counters(o.group) for o in log.timed]
        py_sent, py_ret = meter.python_bytes(exec0, exec1) if args.trace else (0.0, 0.0)
        per_kind_jobs = {}
        for o, c in zip(log.timed, counters):
            per_kind_jobs.setdefault(o.kind, []).append(c["jobs"])
        peak_rss = tree.peak_rss_mb()
        spark_conf = {
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
            "spark_version": spark.version,
            "java_version": spark.sparkContext._jvm.System.getProperty("java.version"),
        }
    finally:
        stop_spark(spark, tree)
        phases["stop"] = time.perf_counter() - T_START

    # no end-to-end metric improves by a failure: a round with a failed op
    # completes no op (ops_per_s, the median over scored rounds of
    # completed ops per round wall, and cpu_s_per_op, over the whole
    # window, count completed ops only), a failed op counts as an infinite
    # latency in op_p50_s (latencies_by_type), and a round with a failed
    # op is always scored (workloads.scored_ops)
    timed = log.timed
    n_ops = len(timed)
    failed_timed = sum(not o.ok for o in timed)
    done = sum(log.round_done)
    scored, scored_timed = workloads.scored_ops(log)
    lat = latencies_by_type(scored_timed)
    attempted = n_ops + log.checks
    failed = failed_timed + len(log.check_failures)
    ops_per_s = statistics.median(log.round_done[i] / log.round_walls[i] for i in scored)
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (geomean_of_medians(lat), "s"),
        "ops_per_s": (ops_per_s, "1/s"),
        "cpu_s_per_op": ((cpu1 - cpu0) / done if done else float("inf"), "s"),
    }
    if args.trace:
        metrics = per_layer_metrics(
            wl, log, lat, tracer, counters, per_kind_jobs, py_sent, py_ret,
            cpu1 - cpu0, pycpu1 - pycpu0, peak_rss, ops_per_s, traced_window,
            failed, attempted,
        )
    else:
        metrics = e2e
    all_lat = [o.latency for o in timed]
    tail = tail_percentile(all_lat)
    env = {
        "git_sha": git_sha(),
        "nproc": os.cpu_count(),
        "local_n": cpus,
        "spark_driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
        "python_version": platform.python_version(),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "smoke": args.smoke,
        "samples": n_ops,
        "rounds": len(log.round_walls),
        "window_s": window,
        "round_steal_share": [round(x, 4) for x in log.round_steal_share],
        "scored_rounds": scored,
        "tail_percentile": tail,
        "session_s": session_s,
        "prep_walls_s": log.prep_walls,
        "warmup_latencies_s": [[o.kind, round(o.latency, 4)] for o in log.warm],
        "warmup_s": warm_s,
        "timed_latencies_s": {
            k: [round(x, 4) for x in v] for k, v in latencies_by_type(timed).items()
        },
        "warmup_steal_s": [round(o.steal, 2) for o in log.warm],
        "timed_steal_s": [round(o.steal, 2) for o in timed],
        "python_worker_cpu_share": (pycpu1 - pycpu0) / (cpu1 - cpu0) if cpu1 > cpu0 else 0.0,
        "cpu_steal_s": steal_s() - steal0,
        "trace_self_s_per_op": {
            k: v / max(1, len(log.traced)) for k, v in sorted(tracer.self_times().items())
        } if tracer else {},
        "check_failures": log.check_failures,
        "phases_s": {k: round(v, 2) for k, v in phases.items()},
        **spark_conf,
    }
    result = {
        "correct": not log.check_failures and failed_timed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, env, tracer


def per_layer_metrics(wl, log, lat, tracer, counters, per_kind_jobs, py_sent, py_ret,
                      cpu_s, py_cpu_s, peak_rss, ops_per_s, traced_window, failed,
                      attempted):
    """Every per-layer metric of BENCHMARK.json; a layer the workload
    does not run reads 0."""
    from perfbench import workloads
    from perfbench.metrics import SPARK_COUNTERS, per_row

    n = len(log.timed)
    out: dict[str, tuple[float, str]] = {}
    cnt = tracer.counts if tracer else {}
    n_traced = max(1, len(log.traced))

    def per_op(x: float) -> float:
        return x / n_traced

    out["jobs.control_s"] = (per_op(tracer.total("jobs.control")), "s")
    out["jobs.control_calls"] = (per_op(cnt.get("jobs.control.calls", 0)), "count")
    out["source.fetch_s"] = (per_op(tracer.total("source.fetch")), "s")
    out["source.rows"] = (per_op(cnt.get("source.rows", 0)), "count")
    out["transform.apply_s"] = (per_op(tracer.total("transform.apply")), "s")
    out["loader.merge_s"] = (per_op(tracer.total("loader.merge")), "s")
    out["loader.probe_s"] = (per_op(tracer.total("loader.probe")), "s")
    out["loader.probe_calls"] = (per_op(cnt.get("loader.probe.calls", 0)), "count")
    out["catalog.write_s"] = (per_op(tracer.total("catalog.write")), "s")
    out["catalog.write_calls"] = (per_op(cnt.get("catalog.write.calls", 0)), "count")
    out["catalog.bytes_written"] = (per_op(cnt.get("catalog.bytes_written", 0)), "B")
    out["catalog.files_written"] = (per_op(cnt.get("catalog.files_written", 0)), "count")
    rows = wl.batch_rows
    out["write_bytes_per_row"] = (
        per_row(per_op(cnt.get("catalog.bytes_written", 0)), rows) if rows else 0.0, "B/row")
    out["pipeline.run_child_coverage"] = (tracer.child_coverage("pipeline.run"), "ratio")
    out["cachereg.cache_calls"] = (per_op(cnt.get("cachereg.cache.calls", 0)), "count")
    out["kernel.python_bytes_sent"] = (py_sent / n, "B")
    out["kernel.python_bytes_returned"] = (py_ret / n, "B")
    out["kernel.python_cpu_s"] = (py_cpu_s / n, "s")

    for k, unit in SPARK_COUNTERS.items():
        vals = [c[k] for c in counters]
        out[f"spark.{k}"] = (statistics.median(vals), unit)

    for q in workloads.CURATION_QUERIES:
        mod = workloads.owner_module(q)
        lats = lat.get(q, [])
        jobs = per_kind_jobs.get(q, [])
        out[f"query.{mod}.{q}.p50_s"] = (statistics.median(lats) if lats else 0.0, "s")
        out[f"query.{mod}.{q}.jobs"] = (statistics.median(jobs) if jobs else 0.0, "count")

    out["proc.cpu_s"] = (cpu_s, "s")
    out["proc.peak_rss_mb"] = (peak_rss, "MB")
    out["first_op_s"] = (log.warm[0].latency if log.warm else 0.0, "s")
    out["warmup_s"] = (sum(o.latency for o in log.warm), "s")
    out["op.samples"] = (float(n), "count")
    traced_ops_per_s = len(log.traced) / traced_window if traced_window else 0.0
    out["trace.ops_per_s"] = (traced_ops_per_s, "1/s")
    out["trace.overhead_ops_per_s"] = (ops_per_s - traced_ops_per_s, "1/s")
    out["fail_ratio"] = (failed / attempted, "ratio")
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
