"""Self-test of the benchmark on a few dozen documents per workload.

    python3 perfbench/selftest.py

For each workload it checks that a timed run and a traced run pass
their output checks and print every metric BENCHMARK.json names, with
its unit, and that a run whose output has one value altered after the
jobs ran is reported as incorrect. Exits 1 on the first failure.
"""

from __future__ import annotations

import json
import math
import sys
from pathlib import Path

import pyarrow.parquet as pq

import run  # first: puts the repository root on sys.path

import checks  # noqa: E402
import host  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

BENCHMARK = json.loads((run.ROOT / "BENCHMARK.json").read_text())
SMALL = {"extract_increment": dict(base_docs=24, new_docs=24, pdf_docs=12),
         "web_curate": dict(docs=48, warm_docs=16)}


def _rewrite(table_dir: Path, column: str, row_filter) -> None:
    """Replace one value of `column` in a parquet directory, in place."""
    files = sorted(table_dir.glob("*.parquet"))
    df = pq.read_table(files).to_pandas()
    i = df.index[row_filter(df)][0]
    df.loc[i, column] = df.loc[i, column] + "9"
    for f in files:
        f.unlink()
    df.to_parquet(table_dir / "part-00000-altered.parquet", index=False)


class AlteredExtract(workloads.ExtractIncrement):
    def check(self, spark, i):
        doc = checks.sample(self.seed, self.new_ficha, checks.E2_SAMPLE)[0]
        url = f"synth://ficha/{doc:08d}"
        _rewrite(Path(self.out, "proventos"), "valor",
                 lambda df: df["url"] == url)
        return super().check(spark, i)


class AlteredWeb(workloads.WebCurate):
    def check(self, spark, i):
        _rewrite(Path(self.out(i), "curated", f"run_id=c{i}"), "main_text",
                 lambda df: df["main_text"].str.len() > 0)
        return super().check(spark, i)


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def main() -> None:
    specs = {"0": {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]},
             "1": {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}}
    expect(specs["1"] == {n: u for n, u, _ in tracing.metric_specs()},
           "BENCHMARK.json per_layer matches tracing.metric_specs()")
    expect(set(specs["0"]) == {n for n, _ in run.END_TO_END},
           "BENCHMARK.json end_to_end matches run.END_TO_END")
    altered = {"extract_increment": (AlteredExtract, "proventos"),
               "web_curate": (AlteredWeb, "main_text")}
    for name, sizes in SMALL.items():
        for trace_on in ("0", "1"):
            _, res = run.bench_run(
                lambda d, s, c: workloads.WORKLOADS[name](d, s, c, **sizes),
                7, 1, trace_on == "1")
            label = f"{name} --trace {trace_on}"
            expect(res["correct"] and res["failed"] == 0
                   and res["attempted"] > 0, f"{label}: outputs correct")
            got = {n: m["unit"] for n, m in res["metrics"].items()}
            expect(got == specs[trace_on], f"{label}: every metric, with unit")
            expect(all(isinstance(m["value"], float)
                       and math.isfinite(m["value"])
                       for m in res["metrics"].values()),
                   f"{label}: every value a finite number")
        cls, column = altered[name]
        context, res = run.bench_run(
            lambda d, s, c: cls(d, s, c, **sizes), 7, 1, False)
        expect(not res["correct"]
               and any(column in e for e in context["errors"]),
               f"{name}: an altered {column} value fails the run "
               f"({context['errors'][:1]})")


if __name__ == "__main__":
    host.adopt_orphans()
    try:
        main()
    finally:
        run.finish()
