"""The benchmark's workloads: product jobs run in-process, unmodified.

A workload generates its seeded inputs, runs a warm-up that is part of
set-up time, then runs timed iterations. Each iteration is a list of
product jobs, each `jobs.main()` / `jobs_curate.main()` with `sys.argv`
set, exactly as spark-submit would call it. Checks run after each
iteration, outside the timed span.
"""

from __future__ import annotations

import contextlib
import shutil
import sys
from pathlib import Path

from pyspark.sql import functions as F

import checks
import inputs
import jobs
import jobs_curate

START, END = (2019, 1), (2021, 12)
PERIOD = ["--start", "2019-01", "--end", "2021-12"]


def run_main(module, argv: list[str]) -> None:
    """Run a product entry point as spark-submit would, its stdout sent
    to stderr so that the result line stays last on stdout."""
    saved = sys.argv
    sys.argv = [module.__file__, *argv]
    try:
        with contextlib.redirect_stdout(sys.stderr):
            module.main()
    finally:
        sys.argv = saved


def fingerprint(spark, path: str, drop=("partition_id", "audit_ts", "ts")):
    """(rows, order-independent hash sum) of a parquet table, without
    the columns that name a task or a wall-clock time."""
    df = spark.read.parquet(path)
    cols = [c for c in df.columns if c not in drop]
    row = df.agg(F.count("*"),
                 F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))).first()
    return int(row[0]), str(row[1])


class ExtractIncrement:
    """jobs.py on one crawl increment: a `--resume` run over base ∪ new
    pages whose base run is already in the output, then a fresh
    `--pdf-col pdf` run over a batch of raw ficha PDFs."""

    name = "extract_increment"

    def __init__(self, work: Path, seed: int, cpus: int,
                 base_docs: int = 400, new_docs: int = 400,
                 pdf_docs: int = 48) -> None:
        self.work, self.seed, self.cpus = work, seed, cpus
        self.base_docs, self.new_docs, self.n_pdfs = \
            base_docs, new_docs, pdf_docs
        self.out = str(work / "pages_out")
        self.snapshot = work / "pages_base_out"

    def pdf_out(self, i: int) -> str:
        return str(self.work / f"pdf_out_{i}")

    def generate(self, cache: Path) -> None:
        (self.base, self.pages), (_, new) = inputs.tables(
            cache, "pages", self.seed, [self.base_docs, self.new_docs],
            self.cpus)
        (self.pdfs,), (self.pdf_docs,) = inputs.tables(
            cache, "pdfs", self.seed, [self.n_pdfs], self.cpus)
        family = {i: inputs.family(self.seed, i) for i in new}
        self.new_folha = [i for i in new if family[i] == "folha"]
        self.new_ficha = [i for i in new if family[i] == "ficha"]

    def warm_up(self) -> None:
        """The base run: what the increment resumes from."""
        run_main(jobs, ["--pages", self.base, "--out", self.out,
                        "--run-id", "base", *PERIOD])
        shutil.copytree(self.out, self.snapshot)

    def before(self, i: int) -> None:
        shutil.rmtree(self.out)
        shutil.copytree(self.snapshot, self.out)
        shutil.rmtree(self.pdf_out(i), ignore_errors=True)

    def job_list(self, i: int) -> list[tuple[str, int, object, list[str]]]:
        return [
            ("pages_increment", self.new_docs, jobs,
             ["--pages", self.pages, "--out", self.out,
              "--run-id", f"inc{i}", "--resume", *PERIOD]),
            ("pdf_batch", len(self.pdf_docs), jobs,
             ["--pages", self.pdfs, "--pdf-col", "pdf",
              "--out", self.pdf_out(i), "--run-id", f"pdf{i}", *PERIOD]),
        ]

    def check(self, spark, i: int) -> tuple[int, list[str]]:
        seed = self.seed
        failed, errors = checks.extract_lineage(
            spark, self.out, f"inc{i}", self.new_docs, len(self.new_ficha),
            self.base_docs + self.new_docs, parse=False)
        f2, e2 = checks.extract_lineage(
            spark, self.pdf_out(i), f"pdf{i}", len(self.pdf_docs),
            len(self.pdf_docs), len(self.pdf_docs), parse=True)
        errors += e2
        errors += checks.e1_values(
            spark, self.out, seed,
            checks.sample(seed, self.new_folha, checks.E1_SAMPLE))
        errors += checks.e2_series(
            spark, self.out, seed,
            checks.sample(seed, self.new_ficha, checks.E2_SAMPLE),
            START, END)
        errors += checks.e2_series(
            spark, self.pdf_out(i), seed,
            checks.sample(seed + 1, self.pdf_docs, checks.E2_SAMPLE),
            START, END)
        return failed + f2, errors

    def fingerprints(self, spark, i: int) -> dict:
        tables = ["e1_attention", "proventos", "insalubridade", "cartoes",
                  "horas_trabalhadas", "audit_e1", "audit_e2", "manifest"]
        out = {t: fingerprint(spark, f"{self.out}/{t}") for t in tables}
        out["e1_target"] = fingerprint(
            spark, str(sorted(Path(self.out, "e1_target").glob("snap-*"))[-1]))
        for t in tables[1:] + ["audit_parse"]:
            out[f"pdf/{t}"] = fingerprint(spark, f"{self.pdf_out(i)}/{t}")
        return out


class WebCurate:
    """jobs_curate.py over a crawl of HTML pages: boilerplate strip,
    quality gates, exact and MinHash near-dup removal."""

    name = "web_curate"
    ARGS = ["--html-col", "html", "--near-dup", "minhash"]

    def __init__(self, work: Path, seed: int, cpus: int,
                 docs: int = 1300, warm_docs: int = 32) -> None:
        self.work, self.seed, self.cpus = work, seed, cpus
        self.n_docs, self.warm_docs = docs, warm_docs

    def out(self, i: int) -> str:
        return str(self.work / f"curate_out_{i}")

    def generate(self, cache: Path) -> None:
        (self.docs, self.warm), _ = inputs.tables(
            cache, "web", self.seed, [self.n_docs, self.warm_docs], self.cpus)

    def warm_up(self) -> None:
        run_main(jobs_curate, ["--documents", self.warm,
                               "--out", str(self.work / "warm_out"),
                               "--run-id", "warm", *self.ARGS])

    def before(self, i: int) -> None:
        shutil.rmtree(self.out(i), ignore_errors=True)

    def job_list(self, i: int) -> list[tuple[str, int, object, list[str]]]:
        return [("web_curate", self.n_docs, jobs_curate,
                 ["--documents", self.docs, "--out", self.out(i),
                  "--run-id", f"c{i}", *self.ARGS])]

    def check(self, spark, i: int) -> tuple[int, list[str]]:
        return checks.web_curate(spark, self.out(i), f"c{i}", self.seed,
                                 self.n_docs)

    def fingerprints(self, spark, i: int) -> dict:
        tables = ["curated", "near_dup_pairs", "stage_counts", "extracted",
                  "state/manifest", "state/qualified_hashes", "state/bands"]
        return {t: fingerprint(spark, f"{self.out(i)}/{t}") for t in tables}


WORKLOADS = {w.name: w for w in (ExtractIncrement, WebCurate)}
