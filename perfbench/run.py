"""Product-job benchmark: `jobs.py` / `jobs_curate.py` end to end.

    python3 perfbench/run.py --workload extract_increment --seed 1 \
        --seconds 8 --trace 0

Run from the repository root. One closed-loop client: the product jobs
run one at a time, in-process (`main()` with `sys.argv` set), in one
SparkSession at local[<cpus>]. Seeded inputs are generated before the
JVM starts and cached under `.perfbench/cache`.

Set-up time is JVM start + `get_spark` + the workload's warm-up pass,
what each spark-submit pays before steady throughput. Iterations then
run until at least `--seconds` of job wall time is spent; every
iteration is checked against the package's oracles outside the timed
span.

`--trace 0` prints the end-to-end metrics; `--trace 1` runs one
untraced and one traced iteration with the event log on and prints the
per-layer metrics (see trace.py). The last stdout line is the result
object; the line before it holds host shape, calibration probes and
per-job timings.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from multiprocessing import resource_tracker
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import bench  # noqa: E402  (frozen; imported for calibration_probe only)
from pdf_extractor_spark.session import get_spark  # noqa: E402
from pyspark import SparkContext  # noqa: E402

import host  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

END_TO_END = [("docs_per_s", "docs/s"), ("cpu_s_per_kdoc", "s/kdoc"),
              ("py_worker_peak_rss_mb", "MB"), ("docs_ok_ratio", "ratio"),
              ("setup_s", "s")]


def isolate(run_dir: Path, driver_mb: int, trace_on: bool) -> dict:
    """Keep every file Spark, the JVM and the Python workers write
    inside the run directory, and return the session's extra conf."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # also reaches the spark-submit launcher JVM, not only the driver
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    conf = {"spark.driver.memory": f"{driver_mb}m",
            "spark.local.dir": str(tmp),
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    if trace_on:
        (run_dir / "events").mkdir()
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": (run_dir / "events").as_uri(),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf


def stop_jvm() -> None:
    """End the JVM that get_spark launched and wait for it to exit, so
    no process outlives the run (it exits when its stdin closes). Only
    at process end: the package caches Column trees bound to this JVM,
    so a later session in the same process must reuse it."""
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def finish() -> None:
    """Stop every process the run started and wait for each to end: the
    JVM, multiprocessing's resource tracker (started by the input
    generator's pool, it ignores SIGTERM and would otherwise last until
    interpreter exit) and anything they left behind."""
    try:
        stop_jvm()
    finally:
        resource_tracker._resource_tracker._stop()
        host.reap_tree()


def run_jobs(spark, wl, i: int, log: list) -> tuple[int, float, float, list]:
    """One iteration: (docs, wall s, process-tree cpu s, errors)."""
    docs, wall, cpu, errors = 0, 0.0, 0.0, []
    for label, n, module, argv in wl.job_list(i):
        c0, t0 = host.tree_cpu_s(), time.perf_counter()
        try:
            workloads.run_main(module, argv)
        except Exception:
            traceback.print_exc()
            errors.append(f"{label} raised")
        dt, dc = time.perf_counter() - t0, host.tree_cpu_s() - c0
        spark.catalog.clearCache()
        log.append({"iteration": i, "job": label, "docs": n,
                    "wall_s": dt, "cpu_s": dc})
        docs, wall, cpu = docs + n, wall + dt, cpu + dc
    return docs, wall, cpu, errors


def timed(spark, wl, seconds: float, log: list) -> dict:
    rates, attempted, failed, cpu, measured, errors = [], 0, 0, 0.0, 0.0, []
    i = 0
    with host.WorkerPeak() as peak:
        while True:
            wl.before(i)
            docs, wall, dc, errs = run_jobs(spark, wl, i, log)
            attempted, cpu = attempted + docs, cpu + dc
            measured += wall
            if errs:
                f = docs  # a job that raised leaves nothing to check
            else:
                f, errs = wl.check(spark, i)
            failed, errors = failed + f, errors + errs
            rates.append((docs - f) / wall)
            i += 1
            if measured >= seconds:
                break
    return {"attempted": attempted, "failed": failed, "errors": errors,
            "metrics": {"docs_per_s": statistics.median(rates),
                        "cpu_s_per_kdoc": cpu / attempted * 1000,
                        "py_worker_peak_rss_mb": peak.peak_mb,
                        "docs_ok_ratio": 1 - failed / attempted}}


def traced(spark, wl, log: list) -> tuple[dict, tracing.Tracer, float]:
    """An untraced iteration, then the same iteration traced; the traced
    outputs must equal the untraced ones."""
    wl.before(0)
    docs, wall, _, errors = run_jobs(spark, wl, 0, log)
    failed, errs = wl.check(spark, 0) if not errors else (docs, [])
    errors += errs
    want = wl.fingerprints(spark, 0)
    wl.before(0)
    tr = tracing.Tracer(spark, f"{wl.name}-s{wl.seed}-{os.getpid()}",
                        wl.work / "trace_scratch")
    with tr.span("iteration"):
        tracing.run_flows(tr, spark, wl, 0, workloads.START, workloads.END)
    if wl.fingerprints(spark, 0) != want:
        errors.append("traced outputs differ from the untraced run")
    res = {"attempted": 2 * docs, "failed": failed, "errors": errors}
    return res, tr, wall


def bench_run(make_workload, seed: int, seconds: float,
              trace_on: bool) -> tuple[dict, dict]:
    """One benchmark run: (context, result). `make_workload(run_dir,
    seed, cpus)` builds the workload; the self-test passes small ones."""
    cpus, mem_mb = host.cpus(), host.mem_total_mb()
    driver_mb = min(4096, mem_mb // 4)
    work = ROOT / ".perfbench"
    run_dir = work / "runs" / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        conf = isolate(run_dir, driver_mb, trace_on)
        wl = make_workload(run_dir, seed, cpus)
        t_start = time.perf_counter()
        wl.generate(work / "cache")
        generate_s = time.perf_counter() - t_start
        calibration = [bench.calibration_probe()]
        log: list = []
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{wl.name}", master=f"local[{cpus}]",
                          extra_conf=conf)
        session_s = time.perf_counter() - t0
        try:
            wl.warm_up()
            spark.catalog.clearCache()
            setup_s = time.perf_counter() - t0
            if trace_on:
                res, tr, untraced_wall = traced(spark, wl, log)
            else:
                res = timed(spark, wl, seconds, log)
                res["metrics"]["setup_s"] = setup_s
        finally:
            spark.stop()
        calibration.append(bench.calibration_probe())
        if trace_on:
            events = tracing.event_log_metrics(run_dir / "events")
            res["metrics"] = tracing.layer_metrics(tr, 0, events, session_s,
                                                   untraced_wall)
            tracing.write_spans(tr, work / "traces" / f"{tr.run_id}.json")
            units = {n: u for n, u, _ in tracing.metric_specs()}
            per_job = tr.job_self_s()
        else:
            units, per_job = dict(END_TO_END), None
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    context = {"workload": wl.name, "seed": seed,
               "host": {"cpus": cpus, "mem_total_mb": mem_mb,
                        "master": f"local[{cpus}]",
                        "driver_memory_mb": driver_mb},
               "calibration_s": {"before": calibration[0],
                                 "after": calibration[1]},
               "generate_s": generate_s, "session_s": session_s,
               "setup_s": setup_s, "run_s": time.perf_counter() - t_start,
               "jobs": log, "traced_self_s": per_job,
               "errors": res["errors"]}
    result = {"correct": not res["errors"],
              "attempted": res["attempted"], "failed": res["failed"],
              "metrics": {n: {"value": res["metrics"][n], "unit": u}
                          for n, u in units.items()}}
    return context, result


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    host.adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        context, result = bench_run(workloads.WORKLOADS[args.workload],
                                    args.seed, args.seconds, bool(args.trace))
    finally:
        finish()
    print(json.dumps(context))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
