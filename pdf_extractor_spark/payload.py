"""Binary payload codec for the ``html`` column of the pages table.

The input table (BASELINE-mandated shape) carries each document's layout
form as opaque bytes in ``html:binary``: per page, the flattened
word-box node array — the same shape pdfplumber's ``extract_words``
yields in the reference
(``processors/ficha_financeira_processor.py:424``): each word is
``(text, x0, x1, top, bottom, doctop)``.

The format (``WBX2``) is columnar: one contiguous float64 block for the
five geometry columns (decoded zero-copy with ``np.frombuffer``) and one
NUL-joined UTF-8 text block, so the Engine-2 kernel's per-batch decode
is one block read plus one text split. Floats round-trip exactly.
This module is the only one that knows the layout; every reader goes
through ``decode_layout_columnar``, which rejects any buffer that is
not a complete WBX2 payload.

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
_COUNTS_OFF = len(MAGIC) + _HDR.size + 4


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
    text_blob = "\x00".join(texts).encode("utf-8")
    if total and any("\x00" in t for t in texts):
        raise ValueError("word text may not contain NUL")
    head = (MAGIC + _HDR.pack(float(height), len(counts), total)
            + b"\x00" * 4 + counts.tobytes())
    head += b"\x00" * ((-len(head)) % 8)
    return head + cols.tobytes() + text_blob


def decode_layout_columnar(blob: bytes | bytearray):
    """Validated WBX2 decode → (height, counts int32[n_pages],
    texts list[str], cols float64[5, total]) with zero-copy float
    decode. Raises ValueError unless the buffer holds the magic, a
    header, `n_pages` non-negative counts summing to `total`, all five
    float columns, and a UTF-8 text blob of exactly `total`
    NUL-separated words."""
    buf = bytes(blob)
    if buf[:4] != MAGIC or len(buf) < _COUNTS_OFF:
        raise ValueError("not a WBX2 payload")
    height, n_pages, total = _HDR.unpack_from(buf, 4)
    cols_off = _COUNTS_OFF + 4 * n_pages
    cols_off += (-cols_off) % 8
    text_off = cols_off + 40 * total
    if n_pages < 0 or total < 0 or len(buf) < text_off:
        raise ValueError("truncated WBX2 payload")
    counts = np.frombuffer(buf, np.int32, n_pages, _COUNTS_OFF)
    if (counts < 0).any() or int(counts.sum()) != total:
        raise ValueError("WBX2 page counts do not sum to the word total")
    text = buf[text_off:].decode("utf-8")
    if (text.count("\x00") + 1 if total else len(text)) != total:
        raise ValueError("WBX2 text blob does not hold the word total")
    cols = np.frombuffer(buf, np.float64, 5 * total, cols_off).reshape(5, total)
    return float(height), counts, text.split("\x00") if total else [], cols


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
