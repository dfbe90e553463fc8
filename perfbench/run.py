"""Repository benchmark: ETL load/refresh, star-schema and pipeline-operator
workloads against the engine in this checkout.

    python3 perfbench/run.py --workload query_pipeline --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout. Makes its inputs from ``--seed`` in a
temporary directory inside the checkout, sets up the engine, runs one cold
pass with output checks, then repeats warm passes for ``--seconds``, checks
every output again and prints one JSON object as the last line of standard
output: the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

T_PROCESS = time.time()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
N_SETUPS = 3
# the inputs are a few MB, so 1 GB is ample; the default 8 GB heap would let
# the JVM's RSS follow GC timing rather than the engine's memory use, on a
# machine shared with other jobs
DRIVER_MEM = "1g"


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def host_steal_s() -> float:
    """CPU seconds the hypervisor has withheld from this machine so far,
    summed over its CPUs (the steal column of /proc/stat); the benchmark
    reports it so a slow run on a contended host can be told apart."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["etl_nightly", "query_star", "query_pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def scope_environment(run_dir: Path) -> None:
    """Keep every file the run writes inside ``run_dir``, and let Python
    workers import the engine whatever their working directory (shipping
    the package to executors is an open engine item)."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    for p in (str(ROOT), str(HERE)):
        if p not in sys.path:
            sys.path.insert(0, p)


def spark_conf(run_dir: Path) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "spark-warehouse"),
        # C1 only: a run lasts about a minute, too short for C2 to finish
        # compiling Spark, and C2's background compiles made whole runs
        # differ by 20 %; C1 code is slower but the same in every run
        "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1",
        # the tracer reads every job, stage and SQL execution of the run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM (and
    with it the Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, run_dir: Path) -> dict:
    import workloads
    from meter import ProcMeter, Span, Tracer
    from pyspark import SparkContext

    wl = workloads.make(args.workload, args.seed, run_dir, args.seconds)
    ledger = workloads.Ledger()

    wl.prepare()
    from poc_juma_etl_spark.session import get_spark

    spark = None
    try:
        # set-up: session start + catalog load, several times; the first
        # pays the JVM launch (reported as session.launch_s), the median is
        # what a restart in a warm JVM costs
        setups, session_s, catalog_s, setup_spans = [], [], [], []
        for _ in range(N_SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.time()
            spark = get_spark(f"perfbench-{args.workload}", extra_conf=spark_conf(run_dir))
            t1 = time.time()
            workloads.open_catalog(spark, wl.sf_dir)
            t2 = time.time()
            setups.append(t2 - t0)
            session_s.append(t1 - t0)
            catalog_s.append(t2 - t1)
            trace_id = f"setup{len(setups)}"
            setup_spans.append(Span(f"{trace_id}s", trace_id, None, "session.start", t0, t1))
            setup_spans.append(Span(f"{trace_id}c", trace_id, None, "catalog.load", t1, t2))
        t_ready = time.time()

        tracer = Tracer(spark, bool(args.trace))
        proc = ProcMeter(SparkContext._gateway.proc.pid)

        ledger.recording = False
        first_pass_s = wl.first_pass(spark, tracer, ledger)
        n_first = len(tracer.spans)
        ledger.recording = True

        # measured phase: whole passes until --seconds have elapsed; with
        # three or more passes the medians leave out the first one, which
        # is often still slowed by JIT compilation. Traced
        # runs alternate untraced and traced passes, at least one of each,
        # to measure the tracing overhead
        passes: list[dict] = []
        steal0 = host_steal_s()
        t_start = time.perf_counter()
        while (time.perf_counter() - t_start < args.seconds or not passes
               or (args.trace and len(passes) < 2)):
            traced = bool(args.trace) and len(passes) % 2 == 1
            tracer.enabled = traced
            c0, py0 = proc.sample()
            p0 = time.perf_counter()
            wl.timed_pass(spark, tracer, ledger)
            wall = time.perf_counter() - p0
            c1, py1 = proc.sample()
            passes.append({"wall": wall, "cpu": c1 - c0, "py": py1 - py0, "traced": traced})
        t_measured = time.perf_counter() - t_start
        steal = host_steal_s() - steal0
        tracer.enabled = bool(args.trace)

        t0 = time.perf_counter()
        wl.final_checks(spark, tracer, ledger)
        storage_ratio = wl.storage_ratio()
        peak_rss = proc.peak_rss_mb()
        n_workers = len(proc.worker_pids)
        t_checks = time.perf_counter() - t0
    finally:
        if spark is not None:
            stop_spark(spark)

    if args.trace:
        tracer.spans[:0] = setup_spans
        out = HERE / "out" / f"trace-{args.workload}-seed{args.seed}.json"
        tracer.dump(out)
        print(f"perfbench: spans written to {out}", file=sys.stderr)
        metrics = per_layer(tracer, n_first + len(setup_spans), passes, session_s, catalog_s,
                            storage_ratio, n_workers, len(os.sched_getaffinity(0)))
        metrics["host.steal_s"] = (steal, "s")
    else:
        untraced = [p for p in passes if not p["traced"]]
        op_medians = [median(v) for k, v in ledger.latencies.items() if k in wl.names]
        metrics = {
            "setup_s": (median(setups), "s"),
            "first_pass_s": (first_pass_s, "s"),
            "pass_s": (median([p["wall"] for p in untraced]), "s"),
            "op_geomean_s": (geomean(op_medians), "s"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
    for name, lat in sorted(ledger.latencies.items()):
        print(f"perfbench: op {name} n={len(lat)} median={median(lat):.3f}s "
              f"all={[round(x, 3) for x in lat]}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed={args.seed} passes={len(passes)} "
        f"setups={[round(x, 3) for x in setups]} "
        f"pass_walls={[round(p['wall'], 3) for p in passes]} "
        f"pass_cpu={[round(p['cpu'], 2) for p in passes]} "
        f"pass_pyworker_cpu={[round(p['py'], 2) for p in passes]} "
        f"ready_after={t_ready - T_PROCESS:.2f}s first_pass={first_pass_s:.2f}s "
        f"measured={t_measured:.2f}s host_steal={steal:.2f}s checks={t_checks:.2f}s "
        f"total={time.time() - T_PROCESS:.2f}s failed={len(ledger.failures)}",
        file=sys.stderr,
    )
    return {
        "correct": not ledger.failures,
        "attempted": ledger.attempted,
        "failed": len(ledger.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def per_layer(tracer, n_first, passes, session_s, catalog_s, storage_ratio, n_workers,
              cores) -> dict:
    from meter import union_s

    spans = tracer.spans
    by_name: dict[str, list] = {}
    timed: dict[str, list] = {}
    for i, s in enumerate(spans):
        by_name.setdefault(s.name, []).append(s)
        if i >= n_first:
            timed.setdefault(s.name, []).append(s)

    def named(name, only_timed=False):
        return (timed if only_timed else by_name).get(name, [])

    # per-operation figures cover the warm traced passes only
    ops = [s for n in ("bench.query", "bench.refresh", "bench.gold") for s in named(n, True)]
    busy = [union_s(tracer.job_intervals(s)) for s in ops]

    def op_med(key):
        return median([tracer.total(s, key) for s in ops])

    def sub_med(name, key=None):
        ss = named(name, True)
        if key is None:
            return median([s.dur for s in ss])
        return median([tracer.total(s, key) for s in ss])

    run_all = named("etl.run_all")
    tables = named("etl.run_table")
    raw_end = {s.attrs["table"]: s.end for s in tables}
    from poc_juma_etl_spark.registry import TRIGGER_MAP

    view_raw = {v: t for t, v in TRIGGER_MAP.items()}
    lag = [s.start - raw_end[view_raw[s.attrs["view"]]] for s in named("gold.materialize")
           if view_raw.get(s.attrs["view"]) in raw_end]
    first_start = {}
    for s in sorted(tables, key=lambda s: s.start):
        first_start.setdefault(s.attrs["table"], s.start)
    wait = [t - run_all[0].start for t in first_start.values()] if run_all else []
    writes = named("write.replace_range", True)
    amp = [tracer.total(s, "written_rows") / s.attrs["window_rows"] for s in writes
           if s.attrs["window_rows"]]
    gold_spans = named("gold.materialize") + named("gold.refresh_incremental")
    exec_run = sum(tracer.total(s, "exec_run_s") for s in ops)
    traced = [p["wall"] for p in passes if p["traced"]]
    untraced = [p["wall"] for p in passes if not p["traced"]]
    self_s: dict[str, float] = {}
    for s in spans:
        self_s[s.layer] = self_s.get(s.layer, 0.0) + tracer.self_time(s)

    m = {
        "session.start_s": (median(session_s), "s"),
        "session.launch_s": (session_s[0], "s"),
        "catalog.load_s": (median(catalog_s), "s"),
        "scan.files_read_bytes": (op_med("files_read_bytes"), "bytes"),
        "plans.build_s": (sub_med("plans.build"), "s"),
        "plans.build_jobs": (sub_med("plans.build", "jobs"), "count"),
        "plans.action_s": (sub_med("plans.action"), "s"),
        "plans.action_jobs": (sub_med("plans.action", "jobs"), "count"),
        "spark.jobs": (op_med("jobs"), "count"),
        "spark.stages": (op_med("stages"), "count"),
        "spark.tasks": (op_med("tasks"), "count"),
        "spark.driver_gap_s": (median([s.dur - b for s, b in zip(ops, busy)]), "s"),
        "spark.job_busy_s": (median(busy), "s"),
        "spark.exec_run_s": (op_med("exec_run_s"), "s"),
        "spark.exec_cpu_s": (op_med("exec_cpu_s"), "s"),
        "spark.gc_s": (op_med("gc_s"), "s"),
        "spark.slot_util": (exec_run / (sum(busy) * cores) if sum(busy) else 0.0, "ratio"),
        "shuffle.write_bytes": (op_med("shuffle_write_bytes"), "bytes"),
        "shuffle.read_bytes": (op_med("shuffle_read_bytes"), "bytes"),
        "spill.bytes": (op_med("spill_bytes"), "bytes"),
        "proc.cpu_s": (median([p["cpu"] for p in passes if not p["traced"]]), "s"),
        "pyworker.cpu_s": (median([p["py"] for p in passes if p["traced"]]), "s"),
        "pyworker.procs": (float(n_workers), "count"),
        "write.s": (sub_med("write.replace_range"), "s"),
        "write.jobs": (sub_med("write.replace_range", "jobs"), "count"),
        "write.partitions_rewritten": (sub_med("write.replace_range", "written_parts"), "count"),
        "write.amplification": (median(amp), "ratio"),
        "write.files": (sum(tracer.total(s, "written_files") for s in tables), "count"),
        "write.output_bytes": (sum(tracer.total(s, "written_bytes") for s in tables), "bytes"),
        "write.storage_ratio": (storage_ratio, "ratio"),
        "gold.s": (median([s.dur for s in gold_spans]), "s"),
        "gold.partitions_rewritten": (
            median([tracer.total(s, "written_parts") for s in gold_spans]), "count"),
        "gold.output_bytes": (median([tracer.total(s, "written_bytes") for s in gold_spans]),
                              "bytes"),
        "etl.table_s": (median([s.dur for s in tables]), "s"),
        "etl.attempts": (len(tables) / len(raw_end) if raw_end else 0.0, "ratio"),
        "etl.queue_wait_s": (median(wait), "s"),
        "etl.trigger_lag_s": (median(lag), "s"),
        "cache.release_s": (sub_med("cache.release"), "s"),
        "trace.overhead_s": (median(traced) - median(untraced), "s"),
        "bench.passes": (float(len(passes)), "count"),
        "bench.ops": (float(len(ops)), "count"),
    }
    for layer in ("bench", "session", "catalog", "plans", "etl", "write", "gold", "cache"):
        m[f"{layer}.self_s"] = (self_s.get(layer, 0.0), "s")
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "poc_juma_etl_spark" / "__init__.py").is_file():
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    run_dir = HERE / "tmp" / f"run-{os.getpid()}"
    scope_environment(run_dir)
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:
            pass  # another run still owns a directory there
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
