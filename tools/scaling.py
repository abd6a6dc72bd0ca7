"""N vs 4N scaling of the benchmark's workloads.

    python tools/scaling.py [--workload web_curate] [--scale 4]

N is a quarter of the cores this process may run on: local[1] vs
local[4] on 4 cores. Each leg is one `perfbench/run.py` benchmark run
(its timed loop, output checks and cleanup) in a fresh interpreter and
JVM whose CPU affinity is set to the leg's k cores before it starts, so
`host.cpus()`, the local[k] master and every process the JVM starts see
k cores. Three rounds alternate which leg goes first; round 0 starts
with 4N, so the shared input cache (keyed by seed and sizes) is written
by 4N workers. `--scale k` multiplies the workload's corpus sizes: at
the benchmark's own sizes fixed per-job cost dominates.

Prints one JSON line: per workload, the median docs_per_s and
cpu_s_per_kdoc at N and 4N, efficiency = docs_per_s(4N) /
(4 * docs_per_s(N)), and every leg with its calibration_s. Exits 1,
with no efficiency, if any leg fails its checks or fewer than 4 cores
are available.
"""

from __future__ import annotations

import argparse
import inspect
import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SEED, ROUNDS = 1, 3
METRICS = ("docs_per_s", "cpu_s_per_kdoc")
SIZES = {"extract_increment": ("base_docs", "new_docs", "pdf_docs"),
         "web_curate": ("docs",)}


def order(n: int) -> list[tuple[int, int]]:
    """(round, cores) of every leg in run order: 4N first in round 0."""
    return [(r, k) for r in range(ROUNDS)
            for k in ((4 * n, n) if r % 2 == 0 else (n, 4 * n))]


def leg(name: str, scale: int) -> None:
    """One benchmark run; its result is the only line on stdout."""
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.path.insert(0, str(ROOT / "perfbench"))
    import host
    import run
    import workloads

    host.adopt_orphans()
    cls = workloads.WORKLOADS[name]
    params = inspect.signature(cls).parameters
    sizes = {p: params[p].default * scale for p in SIZES[name]}
    seconds = json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]
    try:
        context, res = run.bench_run(lambda d, s, c: cls(d, s, c, **sizes),
                                     SEED, seconds, False)
    finally:
        run.finish()
    print(json.dumps({"correct": res["correct"], "failed": res["failed"],
                      **{m: res["metrics"][m]["value"] for m in METRICS},
                      "calibration_s": context["calibration_s"],
                      "errors": context["errors"][:3]}), file=out)


def run_leg(name: str, scale: int, cores: list[int]) -> dict:
    code = (f"import sys; sys.path.insert(0, {str(ROOT / 'tools')!r}); "
            f"import scaling; scaling.leg({name!r}, {scale})")
    p = subprocess.run([sys.executable, "-c", code], stdout=subprocess.PIPE,
                       text=True,
                       preexec_fn=lambda: os.sched_setaffinity(0, cores))
    if p.returncode:
        return {"cores": len(cores), "correct": False, "failed": None,
                "errors": [f"leg exited with {p.returncode}"]}
    return {"cores": len(cores), **json.loads(p.stdout)}


def summarize(name: str, n: int, legs: list[dict]) -> tuple[bool, dict]:
    """(every leg correct, the workload's summary); medians and the
    efficiency only when every leg is correct."""
    ok = all(g["correct"] and g["failed"] == 0 for g in legs)
    out = {"workload": name, "n": n, "4n": 4 * n}
    if ok:
        for m in METRICS:
            out[m] = {str(k): statistics.median(g[m] for g in legs
                                                if g["cores"] == k)
                      for k in (n, 4 * n)}
        out["efficiency"] = (out["docs_per_s"][str(4 * n)]
                             / (4 * out["docs_per_s"][str(n)]))
    out["legs"] = legs
    return ok, out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(SIZES))
    ap.add_argument("--scale", type=int, default=1)
    args = ap.parse_args()
    cores = sorted(os.sched_getaffinity(0))
    n = len(cores) // 4
    if n < 1:
        sys.exit(f"need at least 4 cores, have {len(cores)}")
    ok, results = True, []
    for name in [args.workload] if args.workload else sorted(SIZES):
        legs = [{"round": r, **run_leg(name, args.scale, cores[:k])}
                for r, k in order(n)]
        good, summary = summarize(name, n, legs)
        ok, results = ok and good, results + [summary]
    print(json.dumps({"scale": args.scale, "seed": SEED,
                      "workloads": results}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
