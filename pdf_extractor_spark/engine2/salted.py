"""Salt-based skew mitigation for oversized documents (north rule).

A single 5000-page document serializes one task in the plain per-row
kernel. This module splits oversized documents into page-range chunk
rows before the heavy kernel, processes chunks in parallel, then
stitches the cross-page carry state (G2 centers + G5 pending blocks)
exactly — output is bit-identical to the unsalted kernel (pinned by
tests/test_salted.py against the oracle-verified path).

Why a cheap stitch is possible (the correctness argument):

* a pending block's influence horizon is MAX_BLOCK_CARRY = 3 pages past
  its creation page (it either finds values and stops pending, or
  expires — reference ficha_financeira_processor.py:508-522);
* carried-in column centers only matter until the first page that has
  BOTH its own `Comp.` and `Valor` header rows (`first_full_header`);
  blocks created after it are start-state independent.

So pass 1 runs every chunk in parallel from an EMPTY state; per chunk
only the pages before `first_full_header + 3` ("the head") can be
wrong. Pass 2 folds the tiny serialized states sequentially per
document and re-runs just the heads (or the whole chunk when it never
establishes its own headers), whose events REPLACE pass-1 head events.
At the head boundary the pass-1 and pass-2 states provably coincide
(prefix blocks are dead by then in both runs), so pass-1 tails are kept
as-is. The final A1 fold (last-write-wins + conflict transitions +
expiry counts) runs relationally over the merged, totally-ordered
event stream; the A6 vacation adjustment then runs per url over the
folded values with the plain kernel's own `apply_vacation_values`.

Cost shape at scale: pass 1 = embarrassingly parallel mapInPandas over
chunk rows (the skew fix); pass 2 = one applyInPandas over only the
oversized urls, each touching only head pages; the merge = one shuffle
keyed by (url, code, year, month); A6 = one shuffle of the folded
value rows keyed by url.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

import numpy as np

from ..oracle_ref import e2_person_name
from ..payload import (decode_layout, encode_layout, layout_blocks,
                       pack_layout)
from .kernel import (MAX_BLOCK_CARRY, METRICS_CODE, PageRunState,
                     apply_vacation_values, decode_pages_fast, run_pages)

CHUNK_SCHEMA = ("url string, salt int, n_chunks int, page_offset int, "
                "n_pages int, page_h double, chunk_html binary, "
                "person string, decode_failed int, total_pages int")

EVENT_SCHEMA = ("url string, salt int, kind string, code string, "
                "year int, month int, value string, lpage int, "
                "gpage int, seq long, state string, ffh int")

REPLACE_SCHEMA = ("url string, salt int, reproc_end int")


def _chunk_blobs(html: bytes, max_pages: int):
    """Chunk a WBX2 blob by pure buffer slicing — no Word-tuple round
    trip. Output bytes are IDENTICAL to
    `encode_layout(page_h, pages[k*mp:(k+1)*mp])` (pinned by
    tests/test_salted.py::test_split_chunks_blob_bit_identical): each
    chunk re-frames contiguous ranges of the source counts / cols /
    text blocks. ~10x less per-page split cost than decode+re-encode —
    the split is the serial leg of the salted path, so its cost bounds
    how much skew salting can recover (measured in BENCH/BASELINE.md).
    Raises on non-WBX2 bytes."""
    page_h, counts, cols, tblob = layout_blocks(html)
    n_pages, total = len(counts), cols.shape[1]
    # word-text boundaries inside the NUL-joined text blob
    if total > 1:
        nul = np.flatnonzero(
            np.frombuffer(tblob, np.uint8) == 0)
        starts = np.concatenate(([0], nul + 1))
        ends = np.concatenate((nul, [len(tblob)]))
    else:
        starts = np.array([0]); ends = np.array([len(tblob)])
    cum = np.concatenate(([0], np.cumsum(counts)))
    out = []
    for p0 in range(0, n_pages, max_pages):
        p1 = min(p0 + max_pages, n_pages)
        w0, w1 = int(cum[p0]), int(cum[p1])
        tb = (tblob[int(starts[w0]):int(ends[w1 - 1])]
              if w1 > w0 else b"")
        out.append((p1 - p0, pack_layout(page_h, counts[p0:p1],
                                         cols[:, w0:w1], tb)))
    return page_h, n_pages, out


def split_chunks(pages_df: DataFrame, max_pages: int = 16) -> DataFrame:
    """Split each document into ≤max_pages page-range chunk rows.

    max_pages must exceed MAX_BLOCK_CARRY so a carried-in block can
    never survive a whole chunk (the stitch-horizon containment the
    pass-2 proof needs). A payload that is not WBX2 becomes one empty
    chunk with decode_failed = 1.
    """
    assert max_pages > MAX_BLOCK_CARRY

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, html, text in zip(pdf["url"], pdf["html"], pdf["text"]):
                failed = 0
                person = e2_person_name(text or "")
                try:
                    page_h, n, blobs = (_chunk_blobs(html, max_pages)
                                        if html else (0.0, 0, []))
                except Exception:
                    page_h, n, blobs = 0.0, 0, []
                    failed = 1
                if not blobs:
                    blobs = [(0, encode_layout(page_h, []))]
                n_chunks = len(blobs)
                for k, (c_pages, blob) in enumerate(blobs):
                    rows.append((url, k, n_chunks, k * max_pages,
                                 c_pages, page_h, blob,
                                 person if k == 0 else None,
                                 failed if k == 0 else 0, n))
            yield pd.DataFrame(rows, columns=[
                "url", "salt", "n_chunks", "page_offset", "n_pages",
                "page_h", "chunk_html", "person", "decode_failed",
                "total_pages"])

    return pages_df.select("url", "html", "text").mapInPandas(
        kernel, schema=CHUNK_SCHEMA)


def _events_df_rows(url, salt, events, page_offset):
    return [(url, salt, k, c, y, m, v, gp - page_offset, gp, s, None, -1)
            for (k, c, y, m, v, gp, s) in events]


def pass1_events(chunks: DataFrame) -> DataFrame:
    """Parallel pass over every chunk from an empty carry state; also
    emits one kind='s' row per chunk with the serialized end state and
    the first_full_header index (pass-2 inputs)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["url", "salt", "kind", "code", "year", "month", "value",
                "lpage", "gpage", "seq", "state", "ffh"]
        for pdf in batches:
            rows = []
            for url, salt, off, blob, page_h in zip(
                    pdf["url"], pdf["salt"], pdf["page_offset"],
                    pdf["chunk_html"], pdf["page_h"]):
                _h, pages = decode_pages_fast(blob)
                events, end_state, ffh = run_pages(
                    pages, float(page_h), PageRunState(), page_offset=int(off))
                rows.extend(_events_df_rows(url, int(salt), events, int(off)))
                rows.append((url, int(salt), "s", None, None, None, None,
                             None, None, None, end_state.to_json(),
                             -1 if ffh is None else int(ffh)))
            yield pd.DataFrame(rows, columns=cols)

    return chunks.select("url", "salt", "page_offset", "chunk_html",
                         "page_h").mapInPandas(kernel, schema=EVENT_SCHEMA)


def pass2_stitch(chunks: DataFrame, states: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Sequential per-document stitch over chunk boundaries.

    Returns (replacement events, replaced ranges). Only multi-chunk
    documents enter; each document's fold touches only head pages."""
    multi = chunks.filter(F.col("n_chunks") > 1).select(
        "url", "salt", "page_offset", "n_pages", "page_h", "chunk_html")
    joined = multi.join(
        states.select("url", "salt", "state", "ffh"), ["url", "salt"])

    out_schema = ("url string, salt int, kind string, code string, "
                  "year int, month int, value string, lpage int, "
                  "gpage int, seq long, reproc_end int")

    def stitch(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("salt")
        rows = []
        state = PageRunState()
        for r in pdf.itertuples(index=False):
            url, salt, off = r.url, int(r.salt), int(r.page_offset)
            n_pages, page_h = int(r.n_pages), float(r.page_h)
            ffh = int(r.ffh)
            if salt == 0:
                # chunk 0's pass-1 run (empty start state) is already
                # exact; just adopt its end state
                state = PageRunState.from_json(r.state)
                continue
            full_replay = ffh < 0 or (ffh + MAX_BLOCK_CARRY) >= n_pages
            reproc_end = n_pages if full_replay else ffh + MAX_BLOCK_CARRY
            # word tuples, not `_Page`s: only the head pages are re-run,
            # so building every page's line index up front is waste
            _h, pages = decode_layout(r.chunk_html)
            events, end_state, _ = run_pages(
                pages[:reproc_end], page_h, state, page_offset=off)
            for (k, c, y, m, v, gp, s) in events:
                rows.append((url, salt, k, c, y, m, v, gp - off, gp, s,
                             reproc_end))
            # marker row so the merge knows which pass-1 pages to drop
            rows.append((url, salt, "r", None, None, None, None, None,
                         None, None, reproc_end))
            state = end_state if full_replay else PageRunState.from_json(r.state)
        return pd.DataFrame(rows, columns=[
            "url", "salt", "kind", "code", "year", "month", "value",
            "lpage", "gpage", "seq", "reproc_end"])

    stitched = joined.groupBy("url").applyInPandas(stitch, schema=out_schema)
    repl_events = stitched.filter(F.col("kind") != "r").drop("reproc_end")
    ranges = stitched.filter(F.col("kind") == "r").select(
        "url", "salt", "reproc_end")
    return repl_events, ranges


VALUE_SCHEMA = "url string, code string, year int, month int, value string"


def adjust_vacation_by_url(values: DataFrame) -> DataFrame:
    """A6 over folded (url, code, year, month, value) rows: one per-url
    pass running the plain kernel's `apply_vacation_values`. No join —
    the adjustment is document-local."""

    def adjust(pdf: pd.DataFrame) -> pd.DataFrame:
        doc: dict[str, dict] = {}
        for code, y, m, v in zip(pdf["code"], pdf["year"], pdf["month"],
                                 pdf["value"]):
            doc.setdefault(code, {})[(int(y), int(m))] = v
        apply_vacation_values(doc)
        url = pdf["url"].iloc[0]
        return pd.DataFrame(
            [(url, code, y, m, v) for code, series in doc.items()
             for (y, m), v in series.items()],
            columns=["url", "code", "year", "month", "value"])

    return values.groupBy("url").applyInPandas(adjust, schema=VALUE_SCHEMA)


def assemble(chunks: DataFrame, p1: DataFrame, p2_events: DataFrame,
             ranges: DataFrame) -> DataFrame:
    """Merge event streams → E2_LONG_SCHEMA-compatible output
    (value rows + one __metrics__ row per url)."""
    ev1 = (p1.filter(F.col("kind") != "s")
           .select("url", "salt", "kind", "code", "year", "month",
                   "value", "lpage", "gpage", "seq"))
    ev1 = (ev1.join(ranges, ["url", "salt"], "left")
           .filter(F.col("reproc_end").isNull()
                   | (F.col("lpage") >= F.col("reproc_end")))
           .drop("reproc_end"))
    ev2 = p2_events.select("url", "salt", "kind", "code", "year", "month",
                           "value", "lpage", "gpage", "seq")
    events = ev1.unionByName(ev2)

    vals_ev = events.filter(F.col("kind") == "v")
    key = ["url", "code", "year", "month"]
    w = Window.partitionBy(*key).orderBy("gpage", "seq")
    ordered = vals_ev.withColumn("prev", F.lag("value").over(w)) \
                     .withColumn("rn_desc", F.row_number().over(
                         Window.partitionBy(*key).orderBy(
                             F.col("gpage").desc(), F.col("seq").desc())))
    values = ordered.filter(F.col("rn_desc") == 1).select(
        "url", "code", "year", "month", "value")

    # conflict = overwrite with a different Decimal value (A1 metric)
    is_conflict = (
        F.col("prev").isNotNull()
        & (F.col("prev") != F.col("value"))
        & (F.col("prev").cast("decimal(38,6)")
           != F.col("value").cast("decimal(38,6)"))
    )
    conf = ordered.groupBy("url").agg(
        F.sum(is_conflict.cast("int")).alias("conflicts"))
    expiries = events.filter(F.col("kind") == "x").groupBy("url").agg(
        F.count("*").alias("carry_expired"))
    doc_info = chunks.groupBy("url").agg(
        F.first("total_pages").alias("pages"),
        F.sum("decode_failed").alias("decode_failures"),
        F.max("person").alias("person"))

    metrics = (
        doc_info.join(conf, "url", "left").join(expiries, "url", "left")
        .select(
            "url", F.lit(METRICS_CODE).alias("code"),
            F.lit(0).alias("year"), F.lit(0).alias("month"),
            F.lit(None).cast("string").alias("value"),
            F.col("pages").cast("int"),
            F.col("decode_failures").cast("int"),
            F.coalesce("conflicts", F.lit(0)).cast("int").alias("conflicts"),
            F.coalesce("carry_expired", F.lit(0)).cast("int")
            .alias("carry_expired"),
            "person",
        )
    )
    value_rows = adjust_vacation_by_url(values).select(
        "url", "code", "year", "month", "value",
        F.lit(None).cast("int").alias("pages"),
        F.lit(None).cast("int").alias("decode_failures"),
        F.lit(None).cast("int").alias("conflicts"),
        F.lit(None).cast("int").alias("carry_expired"),
        F.lit(None).cast("string").alias("person"),
    )
    return value_rows.unionByName(metrics)


def extract_ficha_salted(pages_df: DataFrame, max_pages: int = 16
                         ) -> DataFrame:
    """Drop-in replacement for `pipeline.extract_ficha` that splits
    oversized documents into parallel page-range chunks with an exact
    carry-state handoff. Output, A6 included, is identical (tests pin
    it)."""
    # person-name scan reads the first text page only (see
    # pipeline.extract_ficha) — ship one page of text per document
    df = pages_df.select(
        "url", "html",
        F.substring_index(F.col("text"), "\f", 1).alias("text")
    ).filter(F.length("html") > 0)
    # chunk rows inherit the INPUT row's partition: a single oversized
    # document's chunks all land in one task and pass 1 runs them
    # serially — the straggler salting exists to kill (measured: one
    # 6000-page doc, pass 1 on unspread chunks 5.3 s vs 0.6 s spread).
    # One deterministic keyed exchange moves each chunk's bytes once
    # (guide §8: decide with small rows, move big rows once — here the
    # decision IS the (url, salt) key) and buys full-width pass 1.
    chunks = (split_chunks(df, max_pages)
              .repartition(F.col("url"), F.col("salt"))
              .persist())
    p1 = pass1_events(chunks).persist()
    states = p1.filter(F.col("kind") == "s")
    p2_events, ranges = pass2_stitch(chunks, states)
    return assemble(chunks, p1, p2_events, ranges)
