"""Seeded benchmark inputs, cached per (DATAGEN_REV, seed, size).

Rows come from the package's own pure generators (`datagen.gen_row`,
`datagen.gen_e2_pdf_bytes`, `datagen.doc_row` + `golden_oracle.wrap_html`),
so every row equals the one `datagen.corpus_df`, `datagen.e2_pdf_corpus_df`
or `datagen.documents_df` produces for the same seed and doc id. They
are written with pyarrow from a spawn pool before the JVM starts: input
generation neither costs a metric nor warms the JVM that set-up time
measures.

The web table holds docs [0, n), as `datagen.documents_df` does. The
pages and PDF tables hold a stratified draw instead of an id range. A
folha's payload size has a coefficient of variation near 1 (a ficha's
about 0.6, with rare long-tail docs ten times the median), so on a few
hundred contiguous ids the work per run moved with the seed by 5-10%,
more than repeated runs of one seed differ. The draw surveys POOL[kind]
candidates per doc, fixes the family mix (46% folha, 46% ficha, 8%
noise; the PDF batch is fichas only) and, within each family, takes a
systematic sample over the candidates in payload-size order from a
seeded offset. Content and size distribution, long tail included,
still come from the seed; the total work hardly does.
"""

from __future__ import annotations

import json
import math
import multiprocessing as mp
import os
import random
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_extractor_spark import datagen, golden_oracle

KEEP_CACHED = 12   # newest cached inputs kept; older ones are deleted
POOL = {"pages": 6, "pdfs": 10}   # candidates surveyed per doc drawn
MIX = {"folha": 0.46, "ficha": 0.46}   # noise takes the rest
SURVEY_CHUNK = 64

SCHEMAS = {
    # same Spark types as datagen.PAGES_SCHEMA / E2_PDF_SCHEMA /
    # DOCUMENTS_SCHEMA (a UTC-adjusted timestamp reads back as TIMESTAMP)
    "pages": pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())]),
    "pdfs": pa.schema([("url", pa.string()), ("pdf", pa.binary())]),
    "web": pa.schema([("doc_id", pa.int64()), ("html", pa.string()),
                      ("lang", pa.string())]),
}


def family(seed: int, doc_id: int) -> str:
    """'folha', 'ficha' or 'noise': the family `datagen.gen_row` picks."""
    return datagen.gen_row(seed, doc_id)["url"].split("/")[2]


def _survey(kind: str, seed: int, lo: int, hi: int) -> list[tuple]:
    """(family, payload bytes, doc id) of docs [lo, hi); for "pdfs"
    only the fichas, sized by their rendered PDF."""
    out = []
    for i in range(lo, hi):
        r = datagen.gen_row(seed, i)
        fam = r["url"].split("/")[2]
        if kind == "pages":
            out.append((fam, len(r["html"]) + len(r["text"].encode()), i))
        elif fam == "ficha":
            out.append((fam, len(datagen.gen_e2_pdf_bytes(seed, i)), i))
    return out


def _spread(items: list, q: int, u: float) -> list:
    """`q` of `items`, evenly spaced from offset `u` in [0, 1)."""
    if len(items) < q:
        raise RuntimeError(f"survey pool too small: {len(items)} < {q}")
    return [items[int((j + u) * len(items) / q)] for j in range(q)]


def _quota(n: int) -> dict[str, int]:
    q = {f: round(share * n) for f, share in MIX.items()}
    q["noise"] = n - sum(q.values())
    return q


def _draw(pool, kind: str, seed: int, sizes: list[int]) -> list[list[int]]:
    """Doc ids of `len(sizes)` disjoint stratified draws, draw k holding
    sizes[k] docs (fichas only for "pdfs"), each sorted by id."""
    total = sum(sizes)
    quotas = ([{"ficha": n} for n in sizes] if kind == "pdfs"
              else [_quota(n) for n in sizes])
    share = MIX["ficha"] if kind == "pdfs" else 1.0
    n_ids = math.ceil(POOL[kind] * total / share)
    bounds = list(range(0, n_ids, SURVEY_CHUNK)) + [n_ids]
    found = pool.starmap(_survey, [(kind, seed, lo, hi)
                                   for lo, hi in zip(bounds, bounds[1:])])
    by_family: dict[str, list] = {}
    for fam, _, i in sorted(c for part in found for c in part):
        by_family.setdefault(fam, []).append(i)
    draws: list[list[int]] = [[] for _ in sizes]
    for fam in quotas[0]:
        want = [q[fam] for q in quotas]
        u = random.Random(f"perfbench-{kind}-{seed}-{fam}").random()
        picked = _spread(by_family.get(fam, []), sum(want), u)
        # deal the size-ordered pick out to the draws the same way, so
        # each draw spans the whole size range
        for k in range(len(sizes) - 1, 0, -1):
            mine = set(_spread(range(len(picked)), want[k], 0.5))
            draws[k] += [i for j, i in enumerate(picked) if j in mine]
            picked = [i for j, i in enumerate(picked) if j not in mine]
        draws[0] += picked
    return [sorted(d) for d in draws]


def _rows(kind: str, seed: int, ids: list[int]) -> list[dict]:
    if kind == "pages":
        return [datagen.gen_row(seed, i) for i in ids]
    if kind == "pdfs":
        return [{"url": f"synth://ficha/{i:08d}",
                 "pdf": datagen.gen_e2_pdf_bytes(seed, i)} for i in ids]
    out = []
    for i in ids:
        r = datagen.doc_row(seed, i)
        out.append({"doc_id": i, "html": golden_oracle.wrap_html(i, r["text"]),
                    "lang": r["lang"]})
    return out


def _write_part(kind: str, seed: int, ids: list[int], path: str) -> None:
    table = pa.Table.from_pylist(_rows(kind, seed, ids), schema=SCHEMAS[kind])
    pq.write_table(table, path)


def _n_files(kind: str, n: int, cpus: int) -> int:
    # the partition counts datagen's Spark generators use
    per_file, floor = {"pages": (64, cpus), "pdfs": (64, 8),
                       "web": (256, cpus)}[kind]
    return min(512, max(floor, n // per_file or 1))


def _write(pool, path: Path, kind: str, seed: int, ids: list[int],
           cpus: int) -> None:
    path.mkdir(parents=True)
    k = _n_files(kind, len(ids), cpus)
    bounds = [len(ids) * j // k for j in range(k + 1)]
    pool.starmap(_write_part, [
        (kind, seed, ids[bounds[j]:bounds[j + 1]],
         str(path / f"part-{j:05d}.parquet"))
        for j in range(k) if bounds[j + 1] > bounds[j]])


def tables(cache: Path, kind: str, seed: int, sizes: list[int],
           cpus: int) -> tuple[list[str], list[list[int]]]:
    """Parquet tables of `kind` for `seed`, generated on a cache miss,
    and the doc ids each holds. "web": one table per size n, of docs
    [0, n). "pages": draws of sizes[0], sizes[1], ... docs; table k
    holds draws 0..k, so table 1 is table 0 plus an increment. "pdfs":
    one draw of sizes[0] fichas."""
    tag = "-".join(map(str, sizes))
    root = cache / f"r{datagen.DATAGEN_REV}-{kind}-s{seed}-n{tag}"
    if (root / "_SUCCESS").exists():
        os.utime(root)
        ids = json.loads((root / "ids.json").read_text())
    else:
        shutil.rmtree(root, ignore_errors=True)
        pool = mp.get_context("spawn").Pool(cpus)
        try:
            if kind == "web":
                ids = [list(range(n)) for n in sizes]
                contents = ids
            else:
                ids = _draw(pool, kind, seed, sizes)
                contents = [sorted(sum(ids[:k + 1], []))
                            for k in range(len(ids))]
            for k, c in enumerate(contents):
                _write(pool, root / f"t{k}", kind, seed, c, cpus)
        finally:
            pool.close()
            pool.join()
        (root / "ids.json").write_text(json.dumps(ids))
        (root / "_SUCCESS").touch()
        _prune(cache)
    return [str(root / f"t{k}") for k in range(len(ids))], ids


def _prune(cache: Path) -> None:
    entries = sorted((p for p in cache.iterdir() if p.is_dir()),
                     key=lambda p: p.stat().st_mtime, reverse=True)
    for p in entries[KEEP_CACHED:]:
        shutil.rmtree(p, ignore_errors=True)
