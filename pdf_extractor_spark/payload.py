"""Binary payload codec for the ``html`` column of the pages table.

The input table (BASELINE-mandated shape) carries each document's layout
form as opaque bytes in ``html:binary``: per page, the flattened
word-box node array — the same shape pdfplumber's ``extract_words``
yields in the reference
(``processors/ficha_financeira_processor.py:424``): each word is
``(text, x0, x1, top, bottom, doctop)``.

The format (``WBX2``) is columnar: one contiguous float64 block for the
five geometry columns (decoded zero-copy with ``np.frombuffer``) and one
NUL-joined UTF-8 text block — measured ~3× faster to decode than a JSON
layout, which matters because Arrow-batch decode sits directly on the
Engine-2 kernel's critical path. Floats round-trip exactly. WBX2 is the
only format: any other non-empty bytes fail to decode (``ValueError``),
and the kernels count that as one decode failure for the document.

Layout:
    b"WBX2" | <d height> <i n_pages> <i total_words> | 4 pad bytes
    | int32 counts[n_pages] | pad to 8-byte boundary
    | float64 cols[5][total_words]   (x0, x1, top, bottom, doctop)
    | utf-8 of "\\x00".join(texts)
"""

from __future__ import annotations

import struct

import numpy as np

# A word box is a 6-tuple: (text, x0, x1, top, bottom, doctop)
Word = tuple[str, float, float, float, float, float]

MAGIC = b"WBX2"
_HDR = struct.Struct("<dii")


def encode_layout(height: float, pages: list[list[Word]]) -> bytes:
    """Serialize per-page word-box arrays into the html:binary payload."""
    counts = np.array([len(p) for p in pages], dtype=np.int32)
    total = int(counts.sum())
    cols = np.empty((5, total), dtype=np.float64)
    texts: list[str] = []
    k = 0
    for page in pages:
        for w in page:
            texts.append(w[0])
            cols[0, k] = w[1]
            cols[1, k] = w[2]
            cols[2, k] = w[3]
            cols[3, k] = w[4]
            cols[4, k] = w[5]
            k += 1
    if total and any("\x00" in t for t in texts):
        raise ValueError("word text may not contain NUL")
    return pack_layout(height, counts, cols,
                       "\x00".join(texts).encode("utf-8"))


def pack_layout(height: float, counts: np.ndarray, cols: np.ndarray,
                text_blob: bytes) -> bytes:
    """Frame the raw blocks (int32 counts, float64 cols[5, total],
    NUL-joined text) as one payload — the inverse of `layout_blocks`."""
    head = MAGIC + _HDR.pack(float(height), len(counts), cols.shape[1]) \
        + b"\x00" * 4
    body = counts.tobytes()
    pad = (-(len(head) + len(body))) % 8
    return head + body + b"\x00" * pad + cols.tobytes() + text_blob


def layout_blocks(blob: bytes | bytearray):
    """Payload → (height, counts int32[n_pages], cols float64[5, total],
    text_blob bytes), floats decoded zero-copy. Raises on bytes that are
    not a whole WBX2 payload (wrong magic, counts past the buffer end)."""
    buf = bytes(blob)
    if buf[:4] != MAGIC:
        raise ValueError("not a WBX2 layout payload")
    height, n_pages, total = _HDR.unpack_from(buf, 4)
    if n_pages < 0 or total < 0:
        raise ValueError("negative WBX2 header count")
    off = 4 + _HDR.size + 4
    counts = np.frombuffer(buf, np.int32, n_pages, off)
    off += 4 * n_pages
    off += (-off) % 8
    cols = np.frombuffer(buf, np.float64, 5 * total, off).reshape(5, total)
    return float(height), counts, cols, buf[off + 40 * total:]


def decode_layout_columnar(blob: bytes | bytearray):
    """Payload → (height, counts int32[n_pages], texts list[str],
    cols float64[5, total])."""
    height, counts, cols, text_blob = layout_blocks(blob)
    texts = text_blob.decode("utf-8").split("\x00") if cols.shape[1] else []
    return height, counts, texts, cols


def decode_layout(blob: bytes | bytearray | None) -> tuple[float, list[list[Word]]]:
    """Word-tuple view (oracle path); empty/None blob → no pages."""
    if not blob:
        return 0.0, []
    height, counts, texts, cols = decode_layout_columnar(blob)
    x0, x1, top, bottom, doctop = (c.tolist() for c in cols)
    pages: list[list[Word]] = []
    a = 0
    for n in counts.tolist():
        b = a + n
        pages.append(list(zip(texts[a:b], x0[a:b], x1[a:b],
                              top[a:b], bottom[a:b], doctop[a:b])))
        a = b
    return height, pages
