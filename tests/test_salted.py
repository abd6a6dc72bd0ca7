"""Salted oversized-document path must be bit-identical to the plain
(oracle-verified) kernel — values, conflicts, expiries, metrics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark import datagen
from pdf_extractor_spark.engine2 import pipeline as e2
from pdf_extractor_spark.engine2.salted import extract_ficha_salted


@pytest.fixture(scope="module")
def corpus(spark):
    # includes carry docs (headerless continuation pages), conflict docs,
    # expired-carry docs, and the 12-year long-tail docs
    pdf = datagen.corpus_pandas(160)
    return spark.createDataFrame(pdf).cache()


def _values_map(rows):
    out = {}
    for r in rows:
        out.setdefault(r.url, {})[(r.code, r.year, r.month)] = r.value
    return out


@pytest.mark.parametrize("max_pages", [5, 16])
def test_salted_equals_plain(spark, corpus, max_pages):
    plain = e2.extract_ficha(corpus)
    salted = extract_ficha_salted(corpus, max_pages=max_pages)

    pv = _values_map(e2.values_table(plain).collect())
    sv = _values_map(e2.values_table(salted).collect())
    assert set(pv) == set(sv)
    for url in pv:
        assert pv[url] == sv[url], url

    pm = {r.url: r for r in e2.metrics_table(plain).collect()}
    sm = {r.url: r for r in e2.metrics_table(salted).collect()}
    assert set(pm) == set(sm)
    for url in pm:
        a, b = pm[url], sm[url]
        assert (a.pages, a.decode_failures, a.conflicts, a.carry_expired,
                a.person) == (b.pages, b.decode_failures, b.conflicts,
                              b.carry_expired, b.person), url


def test_salted_actually_splits(spark, corpus):
    from pdf_extractor_spark.engine2.salted import split_chunks

    chunks = split_chunks(corpus.filter(F.length("html") > 0), max_pages=5)
    agg = chunks.groupBy("url").agg(F.max("n_chunks").alias("n")).collect()
    assert any(r.n > 1 for r in agg), "corpus must contain multi-chunk docs"
    # offsets tile the document exactly
    bad = (chunks.groupBy("url")
           .agg(F.sum("n_pages").alias("s"), F.max("total_pages").alias("t"))
           .filter(F.col("s") != F.col("t")).count())
    assert bad == 0


def test_split_chunks_blob_bit_identical(spark, corpus):
    """The buffer-slicing v2 chunker must emit bytes IDENTICAL to
    encode_layout over the decoded page slices (the historical
    implementation), for every chunk of every doc shape in the corpus
    (incl. zero-word pages, empty docs, carry/conflict/long docs)."""
    from pdf_extractor_spark.engine2.salted import split_chunks
    from pdf_extractor_spark.payload import decode_layout, encode_layout

    rows = corpus.select("url", "html", "text").collect()
    chunks = {(r["url"], r["salt"]): r
              for r in split_chunks(
                  corpus.select("url", "html", "text"), 5).collect()}
    n_checked = 0
    for r in rows:
        page_h, pages = decode_layout(r.html)
        n_chunks = max(1, -(-len(pages) // 5))
        for k in range(n_chunks):
            expect = encode_layout(page_h, pages[k * 5:(k + 1) * 5])
            got = chunks[(r.url, k)]
            assert bytes(got.chunk_html) == expect, (r.url, k)
            assert got.n_chunks == n_chunks and got.total_pages == len(pages)
            n_checked += 1
    assert n_checked > len(rows)  # multi-chunk docs exist in the corpus


def _malformed_payloads() -> dict[str, bytes]:
    import json

    import numpy as np

    from pdf_extractor_spark.payload import _HDR, MAGIC

    legacy_json = json.dumps(
        {"height": 842.0,
         "pages": [[["Comp.", 100.0, 130.0, 50.0, 60.0, 50.0]]]}).encode()
    random_bytes = np.random.default_rng(7).bytes(512)
    assert random_bytes[:4] != MAGIC
    # valid magic, but `total` claims far more words than the buffer holds
    truncated = (MAGIC + _HDR.pack(842.0, 1, 1_000_000) + b"\x00" * 4
                 + np.array([1_000_000], np.int32).tobytes()
                 + b"\x00" * 4 + b"\x00" * 80)
    return {"legacy_json": legacy_json, "random": random_bytes,
            "truncated_wbx2": truncated}


@pytest.mark.parametrize("extract", ["plain", "salted"])
@pytest.mark.parametrize("kind", ["legacy_json", "random", "truncated_wbx2"])
def test_malformed_payload_counts_one_decode_failure(spark, extract, kind):
    """WBX2 is the only payload format: any other bytes become one
    counted decode failure with no pages and no value rows, on both
    the plain and the salted extractor."""
    html = _malformed_payloads()[kind]
    pages = spark.createDataFrame(
        [("synth://ficha/bad", html, "FICHA FINANCEIRA")],
        "url string, html binary, text string")
    fn = e2.extract_ficha if extract == "plain" else extract_ficha_salted
    long_df = fn(pages)
    assert e2.values_table(long_df).count() == 0
    [m] = e2.metrics_table(long_df).collect()
    assert (m.decode_failures, m.pages) == (1, 0)
