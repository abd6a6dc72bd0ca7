"""Output checks against the package's own oracles.

Each check returns (failed_docs, errors): failed_docs counts documents
that a lineage table reports as failed or that are missing from
lineage; errors lists every oracle mismatch and every lineage total
that does not reconcile. A run is correct only when errors is empty.

The E2 oracle costs ~40 ms per document in pure Python, so the series
and E1 checks cover a seeded sample of each run's documents (all of
them at self-test sizes); lineage totals cover every document. Oracle
results are memoized, since every iteration of a run re-reads the same
input.
"""

from __future__ import annotations

import functools
import random

from pyspark.sql import functions as F

from pdf_extractor_spark import datagen, golden_oracle, oracle_ref as orc
from pdf_extractor_spark.engine2 import pipeline as e2
from pdf_extractor_spark.sinks.tableio import ParquetSnapshotTableIO

E1_SAMPLE = 100
E2_SAMPLE = 8


def sample(seed: int, ids: list[int], k: int) -> list[int]:
    return sorted(random.Random(seed).sample(ids, min(k, len(ids))))


def _urls(ids: list[int], kind: str) -> list[str]:
    return [f"synth://{kind}/{i:08d}" for i in ids]


def _by_url(df, urls: list[str]) -> dict[str, list]:
    out: dict[str, list] = {}
    for r in df.filter(F.col("url").isin(urls)).collect():
        out.setdefault(r.url, []).append(r)
    return out


@functools.lru_cache(maxsize=1024)
def _e1_want(seed: int, i: int) -> dict:
    g = orc.e1_extract_doc(datagen.gen_row(seed, i)["text"])
    return {(ft, y, m, col): v
            for ft in ("FOLHA NORMAL", "13 SALARIO")
            for (y, m), res in g[ft].items()
            for col, v in res["data"].items()}


@functools.lru_cache(maxsize=1024)
def _e2_want(seed: int, i: int, start: tuple[int, int],
             end: tuple[int, int]) -> dict[str, str]:
    """The four reference CSVs of one ficha doc, from oracle_ref."""
    r = datagen.gen_row(seed, i)
    vals = orc.e2_extract_doc(r["html"], r["text"])["values"]
    if not any(vals.values()):
        return {}
    orc.apply_vacation_adjustments(vals)
    months = list(orc.iterate_months(start, end))
    fmt = orc.format_decimal
    want = {}
    for name, code in (("proventos", "3123-Base"),
                       ("insalubridade", "8-Insalubridade")):
        want[name] = e2.render_default_csv(
            [(f"{m:02d}/{y:04d}", fmt(v))
             for y, m, v in orc.zero_fill(vals.get(code, {}), months)])
    rows, include = orc.cartoes_writer_rows(
        vals.get("6-Horas", {}), vals.get("14-Horas100", {}), months)
    want["cartoes"] = e2.render_cartoes_csv(
        [(f"{m:02d}/{y:04d}", fmt(a), fmt(b)) for y, m, a, b, _ in rows],
        include)
    want["horas_trabalhadas"] = e2.render_horas_csv(
        [(f"{m:02d}/{y:04d}", fmt(a), fmt(b))
         for y, m, a, b, _ in orc.horas_writer_rows(
             vals.get("1-Salario", {}),
             vals.get("952-FaltaInjustifica", {}), months)])
    return want


def e1_values(spark, out: str, seed: int, ids: list[int]) -> list[str]:
    """e1_target rows of the sampled folha docs equal
    oracle_ref.e1_extract_doc."""
    target = ParquetSnapshotTableIO(out).read(spark, "e1_target")
    have = _by_url(target, _urls(ids, "folha"))
    errors = []
    for i in ids:
        url = f"synth://folha/{i:08d}"
        want = _e1_want(seed, i)
        got = {}
        for r in have.get(url, []):
            k = (r.folha_type, r.year, r.month, r.excel_col)
            numeric = isinstance(want.get(k), float)
            got[k] = float(r.value) if numeric else r.value
        if got != want:
            errors.append(f"e1_target {url}: differs from oracle_ref")
    return errors


def e2_series(spark, out: str, seed: int, ids: list[int],
              start: tuple[int, int], end: tuple[int, int]) -> list[str]:
    """proventos / insalubridade / cartoes / horas_trabalhadas rows of
    the sampled ficha docs, rendered to the reference CSVs, equal the
    oracle_ref renderings byte for byte."""
    urls = _urls(ids, "ficha")
    tables = {n: _by_url(spark.read.parquet(f"{out}/{n}"), urls)
              for n in ("proventos", "insalubridade", "cartoes",
                        "horas_trabalhadas")}
    errors = []
    for i, url in zip(ids, urls):
        want, got = _e2_want(seed, i, start, end), {}
        for name, have in tables.items():
            rs = have.get(url)
            if not rs:
                continue
            if name in ("proventos", "insalubridade"):
                rs.sort(key=lambda x: (x.year, x.month))
                got[name] = e2.render_default_csv(
                    [(x.mes_ano, x.valor) for x in rs])
            elif name == "cartoes":
                rs.sort(key=lambda x: (x.is_extra, x.year, x.month))
                got[name] = e2.render_cartoes_csv(
                    [(x.periodo, x.hora_extra_50, x.hora_extra_100)
                     for x in rs], rs[0].include_extra_100)
            else:
                rs.sort(key=lambda x: (x.is_extra, x.year, x.month))
                got[name] = e2.render_horas_csv(
                    [(x.periodo, x.horas_trab, x.faltas) for x in rs])
        for name in tables:
            if got.get(name) != want.get(name):
                errors.append(f"{name} {url}: differs from oracle_ref")
    return errors


def extract_lineage(spark, out: str, run_id: str, n_docs: int,
                    n_layout: int, manifest_total: int,
                    parse: bool) -> tuple[int, list[str]]:
    """jobs.py lineage of one run: every input doc appears in
    audit_e1/audit_e2 (or audit_parse for PDF input), E2 audit rows
    equal the docs with a layout payload, and the manifest grew by
    exactly the docs processed."""
    def run_rows(name):
        return spark.read.parquet(f"{out}/{name}").filter(
            F.col("run_id") == run_id)

    errors = []
    a2 = run_rows("audit_e2")
    other = run_rows("audit_parse" if parse else "audit_e1")
    seen = (a2.select("url").unionByName(other.select("url"))
            .distinct().count())
    with_failures = [a2, other] if parse else [a2]
    failing = with_failures[0].select("url", "decode_failures")
    for df in with_failures[1:]:
        failing = failing.unionByName(df.select("url", "decode_failures"))
    bad = (failing.filter(F.col("decode_failures") > 0)
           .select("url").distinct().count())
    n_e2 = a2.count()
    if n_e2 != n_layout:
        errors.append(f"audit_e2 has {n_e2} rows for {n_layout} layout docs")
    manifest = spark.read.parquet(f"{out}/manifest")
    n_run, n_all = manifest.filter(F.col("run_id") == run_id).count(), \
        manifest.count()
    if n_run != n_docs or n_all != manifest_total:
        errors.append(f"manifest grew by {n_run} to {n_all}, "
                      f"expected {n_docs} to {manifest_total}")
    return (n_docs - seen) + bad, errors


@functools.lru_cache(maxsize=4)
def web_golden(seed: int, n_docs: int) -> tuple[dict, set]:
    """golden_oracle's main texts and near-dup pairs of the corpus."""
    rows = [(i, datagen.doc_row(seed, i)["text"]) for i in range(n_docs)]
    texts = {g["doc_id"]: g["main_text"]
             for g in golden_oracle.extract_main_content_golden(rows)}
    pairs = {(p["a"], p["b"], p["jaccard"])
             for p in golden_oracle.web_neardup_pairs_golden(rows)}
    return texts, pairs


def web_curate(spark, out: str, run_id: str, seed: int,
               n_docs: int) -> tuple[int, list[str]]:
    """curated main_text == golden_oracle's boilerplate twin for every
    kept doc, near-dup pairs == golden_oracle.web_neardup_pairs_golden,
    and the audit / stage_counts / extract_audit totals reconcile."""
    def run_rows(name):
        return spark.read.parquet(f"{out}/{name}").filter(
            F.col("run_id") == run_id)

    errors = []
    extracted = run_rows("extract_audit").agg(F.sum("docs")).first()[0] or 0
    audit = run_rows("audit").first()
    curated = {r.doc_id: r.main_text
               for r in run_rows("curated").select("doc_id", "main_text")
               .collect()}
    pairs = {(r.a, r.b, golden_oracle.spark_round(r.jaccard, 6))
             for r in run_rows("near_dup_pairs").collect()}
    stages = {r.stage: r.n_docs for r in run_rows("stage_counts").collect()}
    if audit is None or audit.input_docs != n_docs:
        errors.append(f"audit input_docs != {n_docs}")
    elif (audit.kept_docs != len(curated)
          or audit.near_dup_pairs != len(pairs)):
        errors.append("audit kept/pair counts differ from the artifacts")
    if sum(stages.values()) != n_docs or stages.get("kept") != len(curated):
        errors.append(f"stage_counts {stages} do not sum to {n_docs}")

    golden, want_pairs = web_golden(seed, n_docs)
    bad_text = [i for i, t in curated.items() if golden.get(i) != t]
    if bad_text:
        errors.append(f"curated main_text differs from golden for "
                      f"{len(bad_text)} docs, e.g. {bad_text[:3]}")
    if pairs != want_pairs:
        errors.append(f"near_dup_pairs: {len(pairs - want_pairs)} extra, "
                      f"{len(want_pairs - pairs)} missing vs golden")
    return n_docs - extracted, errors
