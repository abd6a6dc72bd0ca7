#!/usr/bin/env python
"""N vs 4N scaling evidence for the bytes→words→Engine-2 pipeline —
the reference's HEADLINE query run end-to-end from real PDF bytes
(datagen.gen_e2_pdf_bytes corpus → ops/pdfstream.parse_pdf_layout
word-box extraction → engine2 layout kernel → vacation adjustment →
zero-filled PROVENTOS series), matching the steal-robust alternating
protocol of the other bench tools:

    python tools/bench_pdf_e2_scaling.py                # 24k fichas, pair 2,8
    E2PDF_DOCS=48000 E2PDF_PAIR=2,8 E2PDF_ROUNDS=2 \
        python tools/bench_pdf_e2_scaling.py

The corpus is synthesized once at local[32] and shared by every
measured JVM. Per leg: 1 warm-up + min of the remaining iters;
E2PDF_ROUNDS alternates legs in fresh JVMs keeping the best
throughput per config. Prints one JSON line; paste into
BENCH/BASELINE.md (this script does NOT rewrite it).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

WORKLOAD = r"""
import json, time, os, sys
sys.path.insert(0, {repo!r})
from pdf_extractor_spark.session import get_spark
spark = get_spark("pdf-e2-scaling", master="local[{cpus}]",
                  shuffle_partitions=max(8, {cpus}))
from pdf_extractor_spark.engine2 import pipeline as e2
from pdf_extractor_spark.ops.pdfstream import parse_pdf_layout

pdfs = spark.read.parquet({pdf_path!r})
n_docs = pdfs.count()
n_iters = int(os.environ.get("E2PDF_ITERS", "3"))
best = float("inf")
for it in range(n_iters):
    t0 = time.time()
    adj = e2.values_table(
        e2.extract_ficha(parse_pdf_layout(pdfs)))
    n = e2.default_series_table(
        adj, "3123-Base", (2019, 1), (2021, 12)).count()
    d = time.time() - t0
    spark.catalog.clearCache()
    if it >= 1:
        best = min(best, d)
print("RESULT " + json.dumps({{
    "cpus": {cpus}, "wall_s": round(best, 2), "docs": n_docs,
    "rows": n, "docs_per_s": round(n_docs / best, 1)}}))
"""


def run_at(cpus: int, pdf_path: str, repo: str) -> dict:
    code = WORKLOAD.format(cpus=cpus, pdf_path=pdf_path, repo=repo)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, env=env, timeout=3600)
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT; stderr tail:\n{out.stderr[-2000:]}")


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    # doc ids 0..n span all 13 doc kinds; ~6/13 are fichas with a
    # layout form, so the written corpus is ~0.46 * E2PDF_DOCS files
    n_ids = int(os.environ.get("E2PDF_DOCS", "24000"))
    pair = os.environ.get("E2PDF_PAIR", "2,8")
    n_lo, n_hi = (int(x) for x in pair.split(","))
    assert n_hi == 4 * n_lo, "pair must be N,4N"

    pdf_path = f"/tmp/spark_graft_bench/e2pdf_{n_ids}"
    if not os.path.exists(os.path.join(pdf_path, "_SUCCESS")):
        from pdf_extractor_spark.datagen import e2_pdf_corpus_df
        from pdf_extractor_spark.session import get_spark

        spark = get_spark("e2pdf-datagen", master="local[32]")
        e2_pdf_corpus_df(spark, n_ids).write.mode("overwrite") \
            .parquet(pdf_path)
        spark.stop()

    rounds = int(os.environ.get("E2PDF_ROUNDS", "1"))
    lo = hi = None

    def better(a, b):
        return b if a is None or b["docs_per_s"] > a["docs_per_s"] else a

    for _ in range(rounds):
        lo = better(lo, run_at(n_lo, pdf_path, repo))
        hi = better(hi, run_at(n_hi, pdf_path, repo))
    print(json.dumps({
        "lo": lo, "hi": hi,
        "efficiency": round(
            (hi["docs_per_s"] / lo["docs_per_s"]) / (n_hi // n_lo), 3),
    }))


if __name__ == "__main__":
    main()
