"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload catalog-sf0.001 --seed 1 --seconds 20 --trace 0

One process, one closed-loop client, a Spark session on ``local[nproc]``.
A run sets up (session start, seeded input generation, registration, and
untimed warm-up passes, the first of which checks every op's outputs),
times whole passes over the workload's ops for ``--seconds``,
and stops the session and its JVM.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on Spark's
event log and spans around the benchmark's calls into each layer, and
prints the per-layer metrics instead. The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``; the
lines before it give the run's stamp and every metric in words.

Exit codes: 0 after a completed run (even one with failed ops, which
``correct`` and ``failed`` report), 2 if the package under test cannot be
imported, 1 on any other error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

T_PROCESS = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# catalog-sf0.001 runs every 16th query in catalog.queries() order,
# starting with the second: 8 of the 124, oracles all fast
CATALOG_SLICE = slice(1, None, 16)
ETL_PACKAGES = 1000

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_pss_mb": "MB"}
# op percentiles are printed only over at least this many op samples
MIN_OP_SAMPLES = 100
PER_LAYER = (
    "session.start_s", "session.quiesce_s", "catalog.build_s", "catalog.build_jobs",
    "catalog.exec_s", "bench.other_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.sched_delay_s", "spark.plan_s", "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.jvm_gc_s", "spark.input_mb", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
    "spark.spill_mb", "spark.python_rows", "spark.python_mb", "engine.sql_s",
    "engine.save_s", "engine.bytes_written_mb", "engine.files_written", "plans.execute_s",
    "sources.fetch_s", "sources.csv_write_s", "graph.group_s", "er.resolve_s",
    "er.candidate_pairs", "er.match_ratio", "streaming.snapshot_s", "streaming.merge_s",
    "streaming.incr_wall_s", "streaming.delta_share", "trace.wall_s",
)


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_share")):
        return "ratio"
    return "count"


def make_workload(name: str, seed: int, work_dir: str):
    from perfbench.workloads import CatalogWorkload, EtlWorkload

    if name == "catalog-sf0.001":
        from dropbox_duckdb_playground_spark import catalog

        names = list(catalog.queries())[CATALOG_SLICE]
        return CatalogWorkload(names, sf=0.001, seed=seed, work_dir=work_dir)
    if name == "etl-pipeline":
        return EtlWorkload(n_packages=ETL_PACKAGES, delta_share=0.03, seed=seed, work_dir=work_dir)
    raise SystemExit(f"unknown workload {name!r}")


WORKLOAD_NAMES = ("catalog-sf0.001", "etl-pipeline")


def configure_env(work_dir: str) -> dict:
    """Pin cores and heap to the host and keep every scratch file in the
    run's work directory. Returns the settings for the stamp."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    # an eighth of host RAM, 1-4 GiB: room for the workloads' small
    # inputs without crowding a shared host
    heap_mb = max(1024, min(4096, mem_mb // 8))
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher's too: temp files in the
        # work directory, no perf-data files in /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    return {"nproc": cpus, "host_mem_mb": mem_mb,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "SPARK_DRIVER_MEM": os.environ["SPARK_DRIVER_MEM"]}


def start_session(work_dir: str, event_log_dir: str | None):
    from dropbox_duckdb_playground_spark.session import get_spark

    conf = {
        # the whole heap from the start: G1 otherwise grows it from a
        # sixty-fourth of host RAM at a pace that differs between runs
        "spark.driver.extraJavaOptions": "-Xms" + os.environ["SPARK_DRIVER_MEM"],
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop the context, then the JVM behind it (and with it the Python
    workers it forked), and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def timed_passes(spark, workload, tracer, seconds: float):
    """Whole passes over the workload's ops, one op at a time, until
    ``seconds`` have passed (at least one pass). An op that raises is
    counted in ``fails`` and its time stays in its pass. Returns the pass
    wall times, each op's latencies and the failures per op."""
    pass_walls: list[float] = []
    by_op: dict[str, list[float]] = {}
    fails: dict[str, int] = {}
    deadline = time.time() + seconds
    while not pass_walls or time.time() < deadline:
        tracer.pass_no = len(pass_walls)
        t_pass = time.perf_counter()
        with tracer.span("bench.other"):
            for name, op in workload.pass_ops():
                t_op = time.perf_counter()
                try:
                    op(spark, tracer)
                except Exception as exc:
                    fails[name] = fails.get(name, 0) + 1
                    print(f"op {name} failed: {exc!r}"[:300], file=sys.stderr)
                by_op.setdefault(name, []).append(time.perf_counter() - t_op)
        pass_walls.append(time.perf_counter() - t_pass)
    return pass_walls, by_op, fails


def count_failed(by_op: dict[str, list[float]], fails: dict[str, int], bad: dict[str, str]) -> int:
    """Failed op runs: those that raised, plus every other timed run of an
    op whose output check failed."""
    return sum(fails.values()) + sum(len(by_op.get(n, ())) - fails.get(n, 0) for n in bad)


def run(args, work_dir: str, stamp: dict) -> tuple[dict, dict]:
    from perfbench.procstat import PeakPss, host_cpu_ticks, tree_cpu_s
    from perfbench.trace import Tracer, fold_event_log, read_event_log

    workload = make_workload(args.workload, args.seed, work_dir)
    tracer = Tracer(bool(args.trace))
    event_dir = os.path.join(work_dir, "eventlog") if args.trace else None
    pid = os.getpid()

    t_session = time.time()
    spark = start_session(work_dir, event_dir)
    session_start_s = time.time() - t_session
    try:
        stamp["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        t_prepare = time.time()
        workload.prepare()
        workload.register(spark)
        # warm-up: the first executions in a fresh JVM run well below
        # steady speed, so an untimed pass whose outputs are checked comes
        # first, then the workload's further untimed passes
        t_warm = time.time()
        bad = workload.checked_pass(spark, count_layers=tracer.enabled)
        for _ in range(workload.extra_warm_passes):
            timed_passes(spark, workload, Tracer(False), 0)
        setup_s = time.time() - T_PROCESS
        setup_parts = {"imports": t_session - T_PROCESS, "session": session_start_s,
                       "inputs": t_warm - t_prepare, "warmup": time.time() - t_warm}

        cpu0, host0 = tree_cpu_s(pid), host_cpu_ticks()
        with PeakPss(pid) as mem:
            pass_walls, by_op, fails = timed_passes(spark, workload, tracer, args.seconds)
        cpu_s = (tree_cpu_s(pid) - cpu0 - mem.cpu_s) / len(pass_walls)
        host1 = host_cpu_ticks()
        # share of the timed window this machine's CPUs waited while the
        # hypervisor ran other guests: a high share marks a noisy host
        stamp["steal_share"] = (host1[7] - host0[7]) / max(sum(host1) - sum(host0), 1)
    finally:
        stop_session(spark)

    for name, reason in bad.items():
        print(f"output check failed for {name}: {reason}", file=sys.stderr)
    op_lat = [t for times in by_op.values() for t in times]
    attempted = len(op_lat)
    failed = count_failed(by_op, fails, bad)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    info = {"setup_parts_s": {k: round(v, 3) for k, v in setup_parts.items()},
            "passes_s": [round(w, 3) for w in pass_walls],
            "op_median_s": {n: round(statistics.median(v), 3) for n, v in by_op.items()},
            "op_samples": attempted, "error_rate": failed / attempted}
    if attempted >= MIN_OP_SAMPLES:
        info["op_p50_s"] = statistics.median(op_lat)
        info["op_p90_s"] = statistics.quantiles(op_lat, n=10)[-1]

    if not args.trace:
        e2e = {
            "setup_s": setup_s,
            "wall_s": statistics.median(pass_walls),
            "cpu_s": cpu_s,
            "peak_pss_mb": mem.peak_mb,
        }
        result["metrics"] = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        return result, info

    per_pass: dict[int, dict[str, float]] = {p: {} for p in range(len(pass_walls))}
    folds = [tracer.self_times(), tracer.counters,
             {p: workload.layer_counters for p in per_pass}]
    for log in os.listdir(event_dir):
        folds.append(fold_event_log(read_event_log(os.path.join(event_dir, log)), tracer.spans))
    for fold in folds:
        for p, vals in fold.items():
            for k, v in vals.items():
                per_pass[p][k] = per_pass[p].get(k, 0.0) + v
    layer = {name: statistics.median(per_pass[p].get(name, 0.0) for p in per_pass)
             for name in PER_LAYER}
    layer["session.start_s"] = session_start_s
    layer["trace.wall_s"] = statistics.median(pass_walls)
    result["metrics"] = {k: {"value": v, "unit": layer_unit(k)} for k, v in layer.items()}
    return result, info


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=4242)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import pyspark

        import dropbox_duckdb_playground_spark  # noqa: F401
        import duckdb
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2

    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    try:
        stamp = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                 "commit": git_commit(), **configure_env(work_dir),
                 "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
                 "loadavg_1m_before": os.getloadavg()[0]}
        result, info = run(args, work_dir, stamp)
        stamp["loadavg_1m_after"] = os.getloadavg()[0]
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    print(json.dumps({"stamp": stamp, "run": info}))
    for name, m in result["metrics"].items():
        print(f"{args.workload}  {name:26s} {m['value']:.6g} {m['unit']}")
    print(f"{args.workload}  {'error_rate':26s} {info['error_rate']:.6g} ratio "
          f"({result['failed']} of {result['attempted']} ops)")
    for name in ("op_p50_s", "op_p90_s"):
        if name in info:
            print(f"{args.workload}  {name:26s} {info[name]:.6g} s ({info['op_samples']} op samples)")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
