"""Traced run: per-layer numbers from spans around calls into each layer.

The flows below call the package's public functions in the order
`jobs.main()` / `jobs_curate.main()` call them, and materialize each
layer's output before the next layer starts, so that layer spans are
disjoint. Every span sets a Spark local property naming its layer;
stages inherit it, which is how the event log's task metrics are
attributed. Spans are kept in memory and written out when the run ends.

A layer's self time is the sum of its plan and exec spans (they have
no children). The unattributed remainder is the traced wall time not
covered by any layer or probe span (the job's own glue: reads, counts,
jobs_curate's audit writes). Probe spans count rows for the per-layer
counters; they are part of the tracing overhead, which is the traced
wall time minus the untraced wall time of the same iteration.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections import defaultdict
from pathlib import Path

from pyspark.sql import functions as F

import host
from pdf_extractor_spark.engine1 import pipeline as e1
from pdf_extractor_spark.engine2 import pipeline as e2
from pdf_extractor_spark.ops.curate import (
    curate_corpus, curation_stage_counts, extract_main_text, qualified_hashes)
from pdf_extractor_spark.ops.dedup import (
    band_candidates, cap_megabuckets, minhash_lsh_pairs_with_bands,
    pick_minhash_shape)
from pdf_extractor_spark.ops.pdfstream import parse_pdf_layout
from pdf_extractor_spark.sinks import audit, resume
from pdf_extractor_spark.sinks.tableio import get_table_io

PROP = "perfbench.layer"

LAYERS = ["session", "sinks.resume", "ops.pdfstream", "engine1", "engine2",
          "engine2.series", "sinks.tableio", "sinks.audit",
          "ops.boilerplate", "ops.dedup", "ops.curate"]
# (metric, unit, better) reported for every layer
GENERIC = [("self_s", "s", "lower"), ("plan_s", "s", "lower"),
           ("exec_s", "s", "lower"), ("cpu_s", "s", "lower"),
           ("gc_s", "s", "lower"), ("tasks", "count", "lower"),
           ("task_skew", "ratio", "lower"), ("shuffle_mb", "MB", "lower"),
           ("rows_in", "rows", "higher"), ("rows_out", "rows", "higher")]
EXTRAS = {
    "ops.pdfstream": [("pages", "count", "higher"),
                      ("decode_failures", "count", "lower"),
                      ("input_mb", "MB", "higher")],
    "sinks.resume": [("skip_ratio", "ratio", "higher")],
    "sinks.tableio": [("merge_target_rows", "rows", "higher"),
                      ("written_mb", "MB", "lower"),
                      ("files_written", "count", "lower")],
    "ops.boilerplate": [("nodes", "count", "higher"),
                        ("kept_nodes", "count", "higher")],
    "ops.dedup": [("candidates", "count", "lower"),
                  ("pairs", "count", "higher"),
                  ("pair_yield", "ratio", "higher")],
    "ops.curate": [("kept_ratio", "ratio", "higher")],
}
# whole-run figures; spill and failed tasks are summed over layers to
# stay within the 128-metric budget
TOTALS = [("trace.wall_s", "s", "lower"),
          ("trace.unattributed_s", "s", "lower"),
          ("trace.overhead_s", "s", "lower"),
          ("trace.spill_mb", "MB", "lower"),
          ("trace.failed_tasks", "count", "lower")]


def metric_specs() -> list[tuple[str, str, str]]:
    out = [(f"{layer}.{m}", u, b) for layer in LAYERS for m, u, b in GENERIC]
    out += [(f"{layer}.{m}", u, b) for layer, ms in EXTRAS.items()
            for m, u, b in ms]
    return out + TOTALS


class Tracer:
    def __init__(self, spark, run_id: str, scratch: Path) -> None:
        self.spark, self.sc = spark, spark.sparkContext
        self.run_id, self.scratch = run_id, scratch
        self.spans: list[dict] = []
        self.parent: int | None = None
        self.layers = {layer: defaultdict(float) for layer in LAYERS}

    @contextlib.contextmanager
    def span(self, name: str, tag: str | None = None):
        rec = {"name": name, "run_id": self.run_id, "parent": self.parent,
               "layer": tag, "start": time.time()}
        outer = self.parent
        self.parent = len(self.spans)
        self.spans.append(rec)
        self.sc.setLocalProperty(PROP, tag)
        cpu0 = host.tree_cpu_s()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["cpu_s"] = host.tree_cpu_s() - cpu0
            self.sc.setLocalProperty(PROP, None)
            self.parent = outer

    @contextlib.contextmanager
    def phase(self, layer: str, phase: str):
        with self.span(f"{layer}/{phase}", tag=layer) as rec:
            yield
        acc = self.layers[layer]
        acc[f"{phase}_s"] += rec["end"] - rec["start"]
        acc["cpu_s"] += rec["cpu_s"]

    def probe(self):
        return self.span("probe", tag="probe")

    def add(self, layer: str, **counts) -> None:
        for k, v in counts.items():
            self.layers[layer][k] += v

    def cache(self, layer: str, dfs) -> None:
        """Materialize outputs the product itself persists."""
        with self.phase(layer, "exec"):
            n = sum(df.persist().count() for df in dfs)
        self.add(layer, rows_out=n)

    def materialize(self, layer: str, dfs) -> list:
        """Materialize outputs the product computes inside a sink's
        write: write them as the sink would (a cached plan would run
        without adaptive partition coalescing) and hand the sink a
        scan of the result."""
        paths = [str(self.scratch / f"{layer}-{len(self.spans)}-{k}")
                 for k in range(len(dfs))]
        with self.phase(layer, "exec"):
            for df, path in zip(dfs, paths):
                df.write.parquet(path)
        with self.probe():
            out = [self.spark.read.parquet(p) for p in paths]
            self.add(layer, rows_out=sum(df.count() for df in out))
        return out

    def sink(self, out: str, write, dfs) -> None:
        """A sinks.tableio call, with the bytes and files it wrote."""
        with self.probe():
            n = sum(df.count() for df in dfs)
            b0, f0 = _dir_stats(out)
        with self.phase("sinks.tableio", "exec"):
            write()
        with self.probe():
            b1, f1 = _dir_stats(out)
        self.add("sinks.tableio", rows_in=n, rows_out=n,
                 written_mb=(b1 - b0) / 1e6, files_written=f1 - f0)

    def covered_s(self) -> float:
        """Time inside layer and probe spans (they never overlap)."""
        return sum(s["end"] - s["start"] for s in self.spans if s["layer"])

    def job_self_s(self) -> dict[str, dict[str, float]]:
        """Self time per layer within each job span."""
        out: dict = {}
        for s in self.spans:
            if s["layer"] and s["layer"] != "probe":
                job = self.spans[s["parent"]]["name"]
                per = out.setdefault(job, {})
                per[s["name"]] = (per.get(s["name"], 0.0)
                                  + s["end"] - s["start"])
        return out


def _dir_stats(path: str) -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


def extract_flow(t: Tracer, spark, pages_path: str, out: str, run_id: str,
                 start, end, pdf_col: str | None = None,
                 resume_run: bool = False) -> None:
    """jobs.main() with the parquet table format and the plain E2 kernel."""
    io = get_table_io("parquet", out)
    manifest = f"{out}/manifest"
    src = pages = spark.read.parquet(pages_path)
    if resume_run:
        with t.phase("sinks.resume", "plan"):
            pages = resume.filter_resumable(pages, manifest)
        t.cache("sinks.resume", [pages])
        with t.probe():
            n_in = src.count()
            t.add("sinks.resume", rows_in=n_in,
                  skip_ratio=1 - pages.count() / n_in)
    if pdf_col:
        with t.phase("ops.pdfstream", "plan"):
            pages = parse_pdf_layout(pages, pdf_col=pdf_col)
        t.cache("ops.pdfstream", [pages])
        with t.probe():
            s = pages.agg(F.sum("n_pages"), F.sum("decode_failures")).first()
            size = src.agg(F.sum(F.length(pdf_col))).first()[0]
            t.add("ops.pdfstream", rows_in=src.count(),
                  pages=s[0] or 0, decode_failures=s[1] or 0,
                  input_mb=(size or 0) / 1e6)

    with t.phase("engine1", "plan"):
        e1_values, e1_attention = e1.extract_folha(pages)
        e1_flat = e1_values.select(
            "url", "folha_type", "year", "month", "excel_col",
            F.coalesce(F.col("value")["txt"],
                       F.col("value")["num"].cast("string")).alias("value"))
    e1_flat, e1_attention = t.materialize("engine1", [e1_flat, e1_attention])
    with t.probe():
        target = io.read(spark, "e1_target")
        t.add("engine1", rows_in=pages.count())
        t.add("sinks.tableio",
              merge_target_rows=target.count() if target is not None else 0)
    t.sink(out, lambda: (
        io.merge_fill_if_empty(
            spark, "e1_target", e1_flat,
            keys=["url", "folha_type", "year", "month", "excel_col"]),
        io.append(e1_attention, "e1_attention")), [e1_flat, e1_attention])

    with t.phase("engine2", "plan"):
        long_df = e2.extract_ficha(pages, adjust_vacation=True)
        vals = e2.values_table(long_df)
    t.cache("engine2", [long_df])
    with t.probe():
        t.add("engine2", rows_in=pages.count())
    with t.phase("engine2.series", "plan"):
        series = {
            "proventos": e2.default_series_table(vals, "3123-Base",
                                                 start, end),
            "insalubridade": e2.default_series_table(
                vals, "8-Insalubridade", start, end),
            "cartoes": e2.cartoes_table(vals, start, end),
            "horas_trabalhadas": e2.horas_trabalhadas_table(vals, start, end),
        }
    series = dict(zip(series, t.materialize("engine2.series",
                                            list(series.values()))))
    with t.probe():
        t.add("engine2.series", rows_in=vals.count())
    t.sink(out, lambda: [io.append(df, name) for name, df in series.items()],
           series.values())

    with t.phase("engine1", "plan"):
        page_metrics = e1.page_metrics(
            e1.classify_pages(e1.explode_pages(pages)))
    [page_metrics] = t.materialize("engine1", [page_metrics])
    with t.phase("sinks.audit", "plan"):
        audits = {"audit_e1": audit.build_audit(page_metrics, run_id),
                  "audit_e2": audit.build_audit(e2.metrics_table(long_df),
                                                run_id)}
        if pdf_col:
            audits["audit_parse"] = audit.build_audit(
                pages.select("url", "n_pages", "n_words", "decode_failures"),
                run_id)
    audits = dict(zip(audits, t.materialize("sinks.audit",
                                            list(audits.values()))))
    with t.probe():
        t.add("sinks.audit", rows_in=sum(df.count() for df in audits.values()))
    t.sink(out, lambda: [io.append(df, name) for name, df in audits.items()],
           audits.values())
    with t.phase("sinks.resume", "exec"):
        resume.update_manifest(pages.select("url"), manifest, run_id)
    pages.count()


GATE = dict(id_col="doc_id", text_col="text", min_tokens=5,
            max_digit_ratio=0.2, max_punct_ratio=0.3, keep_langs=("pt", "en"),
            max_dup_word_frac=None, max_top_word_frac=None,
            max_dup_bigram_frac=None)


def curate_flow(t: Tracer, spark, docs_path: str, out: str, run_id: str,
                threshold: float = 0.8) -> None:
    """jobs_curate.main() batch run, `--html-col html --near-dup minhash`."""
    def write_run(df, name: str, keep_other_runs: bool = False) -> None:
        w = df.withColumn("run_id", F.lit(run_id)).write.partitionBy("run_id")
        if keep_other_runs:
            w = w.option("partitionOverwriteMode", "dynamic")
        w.mode("overwrite").parquet(f"{out}/{name}")

    raw = spark.read.parquet(docs_path).persist()
    with t.phase("ops.boilerplate", "plan"):
        docs = extract_main_text(raw, html_col="html", id_col="doc_id",
                                 with_metrics=True)
    with t.phase("ops.boilerplate", "exec"):
        write_run(docs, "extracted")
    ext_run = (spark.read.parquet(f"{out}/extracted")
               .filter(F.col("run_id") == run_id))
    with t.probe():
        s = ext_run.agg(F.count("*"), F.sum("n_nodes"),
                        F.sum("n_kept")).first()
        t.add("ops.boilerplate", rows_in=raw.count(), rows_out=s[0],
              nodes=s[1], kept_nodes=s[2])
    metric_cols = [c for c in ext_run.columns
                   if c not in ("doc_id", "text", "run_id", "partition_id")]
    write_run(ext_run.groupBy("partition_id")
              .agg(F.count("*").alias("docs"),
                   *[F.sum(c).alias(c) for c in metric_cols])
              .withColumn("audit_ts", F.current_timestamp()),
              "extract_audit", keep_other_runs=True)
    docs = ext_run.select("doc_id", "text")
    n_in = docs.count()

    with t.phase("ops.dedup", "plan"):
        pairs, banded = minhash_lsh_pairs_with_bands(
            docs, id_col="doc_id", text_col="text", threshold=threshold,
            scale_shape=pick_minhash_shape(n_in))
        banded = banded.persist()
        pairs = pairs.persist()
    with t.phase("ops.dedup", "exec"):
        write_run(pairs, "near_dup_pairs")
    with t.probe():
        n_pairs = pairs.count()
        n_cand = band_candidates(cap_megabuckets(banded)).count()
        t.add("ops.dedup", rows_in=n_in, rows_out=n_pairs, candidates=n_cand,
              pairs=n_pairs, pair_yield=n_pairs / n_cand if n_cand else 0.0)

    with t.phase("ops.curate", "plan"):
        kept = curate_corpus(docs, near_dup_pairs=pairs, **GATE)
        curated = raw.join(
            docs.join(kept.select("doc_id"), "doc_id", "left_semi")
            .select("doc_id", F.col("text").alias("main_text")), "doc_id")
    with t.phase("ops.curate", "exec"):
        write_run(curated, "curated")
        n_kept = kept.count()
    audit_row = spark.createDataFrame(
        [(n_in, n_kept, pairs.count(), "minhash", GATE["min_tokens"],
          GATE["max_digit_ratio"], GATE["max_punct_ratio"], "pt,en")],
        "input_docs long, kept_docs long, near_dup_pairs long, "
        "near_dup_mode string, min_tokens int, max_digit_ratio double, "
        "max_punct_ratio double, langs string")
    write_run(audit_row.withColumn("audit_ts", F.current_timestamp()),
              "audit", keep_other_runs=True)
    with t.phase("ops.curate", "plan"):
        stages = curation_stage_counts(docs, near_dup_pairs=pairs, **GATE)
    with t.phase("ops.curate", "exec"):
        write_run(stages, "stage_counts", keep_other_runs=True)
    with t.phase("ops.curate", "plan"):
        hashes = qualified_hashes(docs, **GATE)
    write_run(raw.select("doc_id"), "state/manifest")
    with t.phase("ops.curate", "exec"):
        write_run(hashes, "state/qualified_hashes")
    with t.phase("ops.dedup", "exec"):
        write_run(banded, "state/bands")
    t.add("ops.curate", rows_in=n_in, rows_out=n_kept,
          kept_ratio=n_kept / n_in)


def event_log_metrics(log_dir: Path) -> dict[str, dict[str, float]]:
    """Per-layer task metrics from the event log's stage properties."""
    stage_layer: dict[int, str | None] = {}
    acc: dict = defaultdict(lambda: defaultdict(float))
    durations: dict = defaultdict(lambda: defaultdict(list))
    for path in sorted(log_dir.iterdir()):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerStageSubmitted":
                    props = e.get("Properties") or {}
                    stage_layer[e["Stage Info"]["Stage ID"]] = props.get(PROP)
                elif kind == "SparkListenerTaskEnd":
                    layer = stage_layer.get(e["Stage ID"])
                    if layer is None:
                        continue
                    m = e.get("Task Metrics") or {}
                    info = e["Task Info"]
                    a = acc[layer]
                    a["tasks"] += 1
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    a["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}
                                        ).get("Shuffle Bytes Written", 0) / 1e6
                    a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                    if e["Task End Reason"]["Reason"] != "Success":
                        a["failed_tasks"] += 1
                    durations[layer][e["Stage ID"]].append(
                        info["Finish Time"] - info["Launch Time"])
    for layer, stages in durations.items():
        acc[layer]["task_skew"] = max(
            (max(d) / statistics.median(d) for d in stages.values()
             if statistics.median(d) > 0), default=1.0)
    return acc


def layer_metrics(t: Tracer, root: int, events: dict, session_s: float,
                  untraced_wall_s: float) -> dict[str, float]:
    t.layers["session"]["plan_s"] = session_s
    wall = t.spans[root]["end"] - t.spans[root]["start"]
    out = {}
    for layer in LAYERS:
        acc = t.layers[layer]
        acc["self_s"] = acc["plan_s"] + acc["exec_s"]
        for k in ("gc_s", "tasks", "task_skew", "shuffle_mb"):
            acc[k] = events.get(layer, {}).get(k, 0.0)
        for m, _, _ in GENERIC + EXTRAS.get(layer, []):
            out[f"{layer}.{m}"] = float(acc[m])
    out["trace.wall_s"] = wall
    out["trace.unattributed_s"] = wall - t.covered_s()
    out["trace.overhead_s"] = wall - untraced_wall_s
    out["trace.spill_mb"] = sum(
        (a.get("spill_mb", 0.0) for a in events.values()), 0.0)
    out["trace.failed_tasks"] = sum(
        (a.get("failed_tasks", 0.0) for a in events.values()), 0.0)
    return out


def run_flows(t: Tracer, spark, wl, i: int, start, end) -> None:
    """The traced iteration of workload `wl`, under one root span."""
    if wl.name == "extract_increment":
        with t.span("pages_increment"):
            extract_flow(t, spark, wl.pages, wl.out, f"inc{i}", start, end,
                         resume_run=True)
        spark.catalog.clearCache()
        with t.span("pdf_batch"):
            extract_flow(t, spark, wl.pdfs, wl.pdf_out(i), f"pdf{i}", start,
                         end, pdf_col="pdf")
    else:
        with t.span("web_curate"):
            curate_flow(t, spark, wl.docs, wl.out(i), f"c{i}")
    spark.catalog.clearCache()


def write_spans(t: Tracer, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(t.spans, indent=1))
