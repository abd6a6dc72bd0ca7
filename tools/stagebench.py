#!/usr/bin/env python
"""Event-log stage profiler for the extraction pipelines.

    python tools/stagebench.py e1 8          # run E1 at local[8], print per-stage CPU/wall
    python tools/stagebench.py e2 8
    python tools/stagebench.py e1 2 --docs 64000

Runs the pipeline twice in one JVM (first pass = JIT/codegen warm-up)
with the Spark event log enabled, then parses StageCompleted/TaskEnd
into a per-stage table: wall, summed task run time, summed executor
CPU, GC, task count. This is how the Engine-1 window→aggregate
refactor and the branch-stage cost were measured; stage `run ≈ wall ×
cores` means the stage is CPU-saturated and scaling linearly.

Caveats (this sandbox): intermittent host CPU steal inflates wall
asymmetrically between runs — compare CPU sums (steal-robust) across
variants, and only trust wall ratios from interleaved runs.
"""

from __future__ import annotations

import argparse
import collections
import glob
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def run(engine: str, cpus: int, docs: int, evdir: str) -> None:
    from pyspark.sql import functions as F

    from bench import ensure_corpus
    from pdf_extractor_spark.session import get_spark

    spark = get_spark(
        "stagebench", master=f"local[{cpus}]",
        shuffle_partitions=max(8, cpus),
        extra_conf={"spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": evdir,
                    "spark.eventLog.compress": "false"})
    pages = spark.read.parquet(ensure_corpus(spark, docs))
    for it in range(2):
        t0 = time.time()
        if engine == "e1":
            from pdf_extractor_spark.engine1 import pipeline as e1
            vals, att = e1.extract_folha(pages)
            (vals.select(F.count("*").alias("n"))
             .unionAll(att.select(F.count("*").alias("n")))
             .agg(F.sum("n")).first())
        else:
            from pdf_extractor_spark.engine2 import pipeline as e2
            e2.values_table(e2.extract_ficha(pages)).count()
        print(f"iter {it}: {time.time() - t0:.2f}s"
              + ("  (warm-up)" if it == 0 else ""))
        spark.catalog.clearCache()
    spark.stop()


def report(evdir: str, cores: int) -> None:
    files = [p for p in glob.glob(f"{evdir}/*/events_*") if os.path.isfile(p)]
    f = max(files, key=os.path.getsize)
    stages: dict[int, dict] = {}
    agg: dict[int, collections.Counter] = collections.defaultdict(collections.Counter)
    for line in open(f):
        try:
            e = json.loads(line)
        except ValueError:
            continue
        if e.get("Event") == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stages[si["Stage ID"]] = dict(
                wall=(si.get("Completion Time", 0)
                      - si.get("Submission Time", 0)) / 1000,
                sub=si.get("Submission Time", 0),
                tasks=si["Number of Tasks"])
        elif e.get("Event") == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            a = agg[e["Stage ID"]]
            a["cpu"] += m.get("Executor CPU Time", 0) / 1e9
            a["run"] += m.get("Executor Run Time", 0) / 1e3
            a["gc"] += m.get("JVM GC Time", 0) / 1e3
    ids = sorted(stages)
    # warm iteration = stages after the midpoint of the id range
    warm = [s for s in ids if s >= ids[len(ids) // 2]]
    t0 = min(stages[s]["sub"] for s in warm)
    print(f"\nwarm-iteration stages ({len(warm)}; run>0.3s shown):")
    print(f"{'sid':>4} {'start':>7} {'wall':>7} {'run':>8} {'cpu':>8} "
          f"{'gc':>5} {'tasks':>5}")
    tot_run = tot_cpu = 0.0
    for s in warm:
        a, st = agg[s], stages[s]
        tot_run += a["run"]
        tot_cpu += a["cpu"]
        if a["run"] > 0.3:
            print(f"{s:>4} +{(st['sub'] - t0) / 1000:>6.1f} {st['wall']:>7.1f} "
                  f"{a['run']:>8.1f} {a['cpu']:>8.1f} {a['gc']:>5.1f} "
                  f"{st['tasks']:>5}")
    print(f"total run {tot_run:.1f}s  cpu {tot_cpu:.1f}s  "
          f"ideal wall {tot_run / cores:.1f}s at {cores} cores")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("engine", choices=["e1", "e2"])
    ap.add_argument("cpus", type=int)
    ap.add_argument("--docs", type=int, default=64000)
    args = ap.parse_args()
    evdir = tempfile.mkdtemp(prefix="stagebench_ev_")
    run(args.engine, args.cpus, args.docs, evdir)
    report(evdir, args.cpus)


if __name__ == "__main__":
    main()
