"""PDF object-stream parsing — the north star's byte-stream tier
built from scratch: a batched byte-stream tokenizer parses PDF object
streams (xref tables, content-stream operators, encoding decode to
Unicode) and emits per-page extracted text plus line positions.

Reference analog: `pdf_processor_core.py:318-345` and
`processors/ficha_financeira_processor.py:387-398` delegate this layer
to pdfplumber/pypdf; here the whole stack is implemented directly —
no PDF library — as a pure-Python kernel applied over Arrow batches,
never per-row Python UDFs: `mapInPandas` for the stand-alone tier
(`parse_pdf_*`), and inside the extraction job's document pass
(`docpass.py`, one `mapInArrow`), which calls `layout_row` per PDF.

Split of labor (same scale contract as `ops/boilerplate.py`):

* **Python (Arrow batch)**: the byte-level parse only — xref/object
  graph, stream inflation, content tokenization, byte→Unicode decode.
  One linear pass per document, bounded by document size.
* **Plan shape**: scan → mapInPandas (or the document pass's
  mapInArrow), shuffle-free; per-doc page fan-out happens inside the
  kernel, so at 10^12 documents the stage is embarrassingly parallel
  and AQE/salting handles size skew exactly as for the WBX2 kernel.

Grammar coverage (PDF 32000-1): header + classic xref tables AND
PDF-1.5 cross-reference streams (§7.5.8: /W-packed binary rows,
/Index subsections, FlateDecode with PNG predictors, /Prev chains,
hybrid-reference files via trailer /XRefStm §7.5.8.4,
type-2 entries into compressed /ObjStm object streams §7.5.7) +
trailer + startxref; dictionaries, arrays, names (with #xx escapes),
numbers, literal strings (escape sequences, nested parens, octal,
line continuations), hex strings, indirect references, booleans/null;
streams with direct or indirect /Length and FlateDecode /
LZWDecode (EarlyChange) / ASCIIHexDecode / ASCII85Decode /
RunLengthDecode filter chains (applied in array order); the page
tree (nested /Kids); /Contents as a single stream or an array
(concatenated, then lexed and interpreted in one loop); text
operators BT ET Tf Td TD TL Tm T* Tj TJ ' "; font /Encoding as a name
or a dictionary with /BaseEncoding + /Differences; composite /Type0
fonts with 2-byte CID show strings decoded through the /ToUnicode
CMap (bfchar + bfrange incl. the destination-array form, UTF-16BE);
standard-security-handler encryption §7.6.3 with the empty user
password: RC4 V1/V2 (R2/R3, per-object keys), V4 crypt filters (/V2
RC4 or /AESV2 AES-128, /StmF and /StrF resolved apart, Identity passed
through) and V5 AES-256 (R5/R6). Broken xrefs degrade to a
brute-force object scan (which also opens /ObjStm containers) rather
than failing the document.
"""

from __future__ import annotations

import re
import zlib
from itertools import accumulate
from typing import Callable, Iterator, NamedTuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from . import aes as _aes

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")
_XREF_SUB_RE = re.compile(rb"(\d+)\s+(\d+)\s*")
_XREF_ENT_RE = re.compile(rb"(\d{10})\s+(\d{5})\s+([nf])\s*")
# /ToUnicode CMap blocks (§9.10.3)
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEXPAIR_RE = re.compile(rb"<([0-9a-fA-F]+)>\s*<([0-9a-fA-F]+)>")
_HEXONE_RE = re.compile(rb"<([0-9a-fA-F]+)>")
_RANGE_RE = re.compile(
    rb"<([0-9a-fA-F]+)>\s*<([0-9a-fA-F]+)>\s*"
    rb"(?:<([0-9a-fA-F]+)>|\[((?:\s*<[0-9a-fA-F]+>)*)\s*\])")


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int) -> None:
        self.num = num


class _Name(str):
    """PDF name object — distinct from decoded strings."""


# one compiled-regex hop instead of a per-byte Python loop (the two
# hottest structural-lexer frames in the parse profile); the classes
# spell out the PDF whitespace/delimiter sets exactly (_WS/_DELIM)
_WS_RE = re.compile(rb"(?:[\x00\t\n\x0c\r ]+|%[^\n]*\n?)+")
_NAME_RUN_RE = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]*")


def _skip_ws(buf: bytes, i: int) -> int:
    m = _WS_RE.match(buf, i)
    return m.end() if m else i


def _parse_name(buf: bytes, i: int) -> tuple[_Name, int]:
    m = _NAME_RUN_RE.match(buf, i + 1)
    run = m.group()
    if b"#" not in run:                        # fast path: no escapes
        return _Name(run.decode("latin-1")), m.end()
    # escape-bearing names re-scan with the exact historical loop (a
    # decoded #XX may itself be a delimiter byte and the run continues
    # past it, which the regex cannot know)
    j = i + 1
    n = len(buf)
    out = bytearray()
    while j < n:
        c = buf[j:j + 1]
        if c in _WS or c in _DELIM:
            break
        if c == b"#" and j + 2 < n:
            try:
                out.append(int(buf[j + 1:j + 3], 16))
                j += 3
                continue
            except ValueError:
                pass
        out += c
        j += 1
    return _Name(out.decode("latin-1")), j


_STR_ESC = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b",
            b"f": b"\x0c", b"(": b"(", b")": b")", b"\\": b"\\"}


def _parse_literal_string(buf: bytes, i: int) -> tuple[bytes, int]:
    # i points at '('
    out = bytearray()
    depth = 1
    j = i + 1
    n = len(buf)
    while j < n and depth:
        c = buf[j:j + 1]
        if c == b"\\":
            e = buf[j + 1:j + 2]
            if e in _STR_ESC:
                out += _STR_ESC[e]
                j += 2
            elif e and e in b"01234567":        # octal, up to 3 digits
                k = j + 1
                while k < min(j + 4, n) and buf[k:k + 1] in b"01234567":
                    k += 1
                out.append(int(buf[j + 1:k], 8) & 0xFF)
                j = k
            elif e in (b"\n", b"\r"):           # line continuation
                j += 2
                if e == b"\r" and buf[j:j + 1] == b"\n":
                    j += 1
            else:                               # lone backslash: drop
                j += 1
        elif c == b"(":
            depth += 1
            out += c
            j += 1
        elif c == b")":
            depth -= 1
            if depth:
                out += c
            j += 1
        else:
            out += c
            j += 1
    return bytes(out), j


def _parse_hex_string(buf: bytes, i: int) -> tuple[bytes, int]:
    j = buf.find(b">", i + 1)
    if j < 0:
        j = len(buf)
    hx = re.sub(rb"\s+", b"", buf[i + 1:j])
    if len(hx) % 2:
        hx += b"0"
    try:
        return bytes.fromhex(hx.decode("ascii")), j + 1
    except ValueError:
        return b"", j + 1


def _parse_value(buf: bytes, i: int):
    """One PDF object value starting at i → (value, next_pos).
    Indirect references `N G R` fold to _Ref(N)."""
    i = _skip_ws(buf, i)
    n = len(buf)
    if i >= n:
        raise ValueError("eof")
    c0 = buf[i]                 # int dispatch: no bytes-slice per value
    if c0 == 0x3C:              # '<'
        if buf.startswith(b"<<", i):
            d: dict = {}
            i += 2
            while True:
                i = _skip_ws(buf, i)
                if buf.startswith(b">>", i):
                    return d, i + 2
                if i >= n:
                    return d, i
                key, i = _parse_name(buf, i)
                val, i = _parse_value(buf, i)
                d[str(key)] = val
        return _parse_hex_string(buf, i)
    if c0 == 0x28:              # '('
        return _parse_literal_string(buf, i)
    if c0 == 0x2F:              # '/'
        return _parse_name(buf, i)
    if c0 == 0x5B:              # '['
        arr = []
        i += 1
        while True:
            i = _skip_ws(buf, i)
            if buf.startswith(b"]", i):
                return arr, i + 1
            if i >= n:
                return arr, i
            v, i = _parse_value(buf, i)
            arr.append(v)
    if buf.startswith(b"true", i):
        return True, i + 4
    if buf.startswith(b"false", i):
        return False, i + 5
    if buf.startswith(b"null", i):
        return None, i + 4
    m = _NUM_RE.match(buf, i)
    if m:
        tok = m.group()
        i2 = m.end()
        # reference lookahead: INT INT R
        if b"." not in tok and not tok.startswith(b"-"):
            j = _skip_ws(buf, i2)
            m2 = _NUM_RE.match(buf, j)
            if m2 and b"." not in m2.group():
                k = _skip_ws(buf, m2.end())
                if buf.startswith(b"R", k) and (
                        k + 1 >= n or buf[k + 1:k + 2] in _WS
                        or buf[k + 1:k + 2] in _DELIM):
                    return _Ref(int(tok)), k + 1
        return (float(tok) if b"." in tok else int(tok)), i2
    raise ValueError(f"unparseable value at {i}")


# --- encoding ------------------------------------------------------------

# A glyph that decodes to U+0000 reads as U+FFFD and counts one decode
# failure, like a WinAnsi-undefined byte: NUL is the word separator of
# the layout payload. The decode tables (WinAnsi, /Differences,
# /ToUnicode) turn a NUL entry into an undefined one when they are
# built, and the per-glyph loops already count undefined entries.

def _winansi_table() -> list[str]:
    out = []
    for b in range(256):
        try:
            ch = bytes([b]).decode("cp1252")
        except UnicodeDecodeError:
            ch = "�"                      # WinAnsi-undefined byte
        out.append("�" if ch == "\x00" else ch)
    return out


_WINANSI = _winansi_table()

# Adobe Glyph List subset: the names a Differences array in scope of
# this corpus (plus common Latin-1 accents) can carry.
_GLYPHS = {
    "space": " ", "Euro": "€", "bullet": "•",
    "emdash": "—", "endash": "–", "quotesingle": "'",
    "quotedblleft": "“", "quotedblright": "”",
    "agrave": "à", "aacute": "á", "acircumflex": "â",
    "atilde": "ã", "ccedilla": "ç", "eacute": "é",
    "ecircumflex": "ê", "iacute": "í", "oacute": "ó",
    "ocircumflex": "ô", "otilde": "õ", "uacute": "ú",
}


def _glyph_to_unicode(name: str) -> str | None:
    if name in _GLYPHS:
        return _GLYPHS[name]
    if name.startswith("uni") and len(name) == 7:
        try:
            return chr(int(name[3:], 16))
        except ValueError:
            return None
    if len(name) == 1:
        return name
    return None


class _Font:
    """Per-font decode + metrics state for the text state machine.

    `table` (simple fonts) maps byte → unicode; `cmap` (Type0) maps
    2-byte CID → unicode. `widths` holds glyph widths in 1/1000 text
    space units (list[256] for simple fonts from /Widths+/FirstChar,
    dict for CID fonts from /W), `default_width` is /MissingWidth
    (simple, default 500 — the practical base-14 fallback) or /DW
    (CID, default 1000). Ascent/descent come from /FontDescriptor and
    give the word-box top/bottom the same way pdfplumber derives them
    from pdfminer's font metrics (reference consumes exactly that
    shape, processors/ficha_financeira_processor.py:424). A _Font
    hashes by identity: the per-document advance-table memo keys on
    the object itself, which keeps it alive for the document."""

    __slots__ = ("cid", "table", "cmap", "widths", "default_width",
                 "ascent", "descent")

    def __init__(self) -> None:
        self.cid = False
        self.table: list[str] = _WINANSI
        self.cmap: dict[int, str] | None = None
        self.widths: list[float] | dict[int, float] | None = None
        self.default_width = 500.0
        self.ascent = 800.0
        self.descent = -200.0

    def width_of(self, code: int) -> float:
        w = self.widths
        if w is None:
            return self.default_width
        if isinstance(w, dict):
            return w.get(code, self.default_width)
        return w[code] if 0 <= code < 256 else self.default_width


_DEFAULT_FONT = _Font()


def _cf_cipher(cf, name: str) -> str:
    """Cipher for one crypt-filter name (§7.6.5): Identity — the
    default when the key is absent, and the effective result when the
    named filter has no /CF entry — means pass-through; /CFM picks
    RC4 (/V2) or AES (/AESV2, /AESV3); /CFM /None is pass-through."""
    if name == "Identity":
        return "none"
    cfd = cf.get(name) if isinstance(cf, dict) else None
    if isinstance(cfd, tuple):
        cfd = cfd[0]
    if not isinstance(cfd, dict):
        return "none"
    cfm = str(cfd.get("CFM", ""))
    if cfm in ("AESV2", "AESV3"):
        return "aes"
    if cfm == "None":
        return "none"
    return "rc4"


def _parse_cid_widths(w: list) -> dict[int, float]:
    """/W array (§9.7.4.3): `c [w1 w2 …]` assigns consecutive widths
    from CID c; `cFirst cLast w` assigns one width to a range."""
    out: dict[int, float] = {}
    i = 0
    n = len(w)
    while i < n:
        c = w[i]
        if not isinstance(c, (int, float)):
            break
        if i + 1 < n and isinstance(w[i + 1], list):
            for k, wv in enumerate(w[i + 1]):
                if isinstance(wv, (int, float)):
                    out[int(c) + k] = float(wv)
            i += 2
        elif i + 2 < n and isinstance(w[i + 1], (int, float)) \
                and isinstance(w[i + 2], (int, float)):
            lo, hi = int(c), int(w[i + 1])
            for cid in range(lo, min(hi, lo + 65535) + 1):
                out[cid] = float(w[i + 2])
            i += 3
        else:
            break
    return out


# standard security handler padding string (§7.6.3.3, Table 21 note)
_PDF_PAD = bytes.fromhex(
    "28BF4E5E4E758A4164004E56FFFA0108"
    "2E2E00B6D0683E802F0CA9FE6453697A")


def _rc4(key: bytes, data: bytes) -> bytes:
    """RC4 (the PDF standard handler's V1/V2 cipher), from the public
    algorithm — symmetric, so the datagen writer uses its own copy."""
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray()
    i = j = 0
    for b in data:
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out.append(b ^ s[(s[i] + s[j]) & 0xFF])
    return bytes(out)


def _hash_2b(password: bytes, salt: bytes, udata: bytes) -> bytes:
    """ISO 32000-2 Algorithm 2.B — the R6 iterated password hash:
    start from SHA-256(pwd+salt+udata); each round AES-128-CBC-encrypts
    64 repeats of (pwd+K+udata) with key K[:16] / IV K[16:32], picks
    SHA-256/384/512 by (sum of first 16 bytes mod 3), and stops after
    round 64 once the last byte of the AES output ≤ round-64."""
    import hashlib

    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = _aes.cbc_encrypt(k[:16], k[16:32], k1, pad=False)
        k = (hashlib.sha256, hashlib.sha384,
             hashlib.sha512)[sum(e[:16]) % 3](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def _ascii_hex_decode(data: bytes) -> bytes:
    """§7.4.2: hex pairs, whitespace ignored, '>' is EOD, odd final
    digit pads with 0."""
    end = data.find(b">")
    hx = re.sub(rb"\s+", b"", data[:end if end >= 0 else len(data)])
    if len(hx) % 2:
        hx += b"0"
    try:
        return bytes.fromhex(hx.decode("ascii"))
    except (ValueError, UnicodeDecodeError):
        return b""


def _ascii85_decode(data: bytes) -> bytes:
    """§7.4.3: base-85 groups of 5 chars → 4 bytes, 'z' = four zero
    bytes, '~>' is EOD, partial final group of n chars → n-1 bytes."""
    end = data.find(b"~>")
    body = re.sub(rb"\s+", b"", data[:end if end >= 0 else len(data)])
    out = bytearray()
    group: list[int] = []
    for ch in body:
        if ch == 0x7A and not group:            # 'z'
            out += b"\x00\x00\x00\x00"
            continue
        if not (0x21 <= ch <= 0x75):            # '!'..'u'
            return b""
        group.append(ch - 0x21)
        if len(group) == 5:
            v = 0
            for g in group:
                v = v * 85 + g
            out += v.to_bytes(4, "big")
            group = []
    if group:                                   # partial group
        n = len(group)
        if n == 1:
            return b""
        v = 0
        for g in group + [84] * (5 - n):        # pad with 'u'
            v = v * 85 + g
        out += v.to_bytes(4, "big")[:n - 1]
    return bytes(out)


def _lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """§7.4.4: TIFF-style LZW — 9-bit codes growing to 12, code 256
    clears the table, 257 is EOD; with /EarlyChange 1 (the default)
    the code width bumps one entry early."""
    out = bytearray()
    table: list[bytes] = [bytes([b]) for b in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:                     # clear table
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == 257:                     # EOD
                return bytes(out)
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]         # KwKwK case
            else:
                return bytes(out)               # corrupt: best effort
            out += entry
            if prev is not None:
                table.append(prev + entry[:1])
            prev = entry
            # the decoder's table trails the encoder's by one entry, so
            # with /EarlyChange it bumps when its NEXT code would reach
            # (1<<width)-1 — one earlier than its own table suggests
            if (len(table) + early_change >= (1 << width) - 1
                    and width < 12):
                width += 1
    return bytes(out)


def _run_length_decode(data: bytes) -> bytes:
    """§7.4.5: length byte 0–127 copies the next L+1 bytes, 129–255
    repeats the next byte 257−L times, 128 is EOD."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        length = data[i]
        if length == 128:
            break
        if length < 128:
            out += data[i + 1:i + 2 + length]
            i += 2 + length
        else:
            out += data[i + 1:i + 2] * (257 - length)
            i += 2
    return bytes(out)


def _png_unpredict(data: bytes, columns: int) -> bytes:
    """Reverse PNG row predictors (PDF 32000-1 §7.4.4.4, /Predictor
    ≥ 10): each row is one tag byte then `columns` bytes; colors=1,
    bpc=8 as xref streams use."""
    out = bytearray()
    prev = bytearray(columns)
    row_w = columns + 1
    for r in range(0, len(data) - row_w + 1, row_w):
        tag = data[r]
        row = bytearray(data[r + 1:r + row_w])
        if tag == 1:                              # Sub
            for i in range(1, columns):
                row[i] = (row[i] + row[i - 1]) & 0xFF
        elif tag == 2:                            # Up
            for i in range(columns):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif tag == 3:                            # Average
            for i in range(columns):
                left = row[i - 1] if i else 0
                row[i] = (row[i] + (left + prev[i]) // 2) & 0xFF
        elif tag == 4:                            # Paeth
            for i in range(columns):
                a = row[i - 1] if i else 0
                b, c = prev[i], (prev[i - 1] if i else 0)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[i] = (row[i] + pr) & 0xFF
        # tag 0 (None) and unknown tags: raw row
        out += row
        prev = row
    return bytes(out)


def _objstm_header(data: bytes, n: int) -> list[int]:
    """The /N (objnum, offset) integer pairs an /ObjStm's data starts
    with (§7.5.7): up to 2·n integers, fewer when a non-number comes
    first."""
    nums: list[int] = []
    i = 0
    for _ in range(2 * n):
        i = _skip_ws(data, i)
        m = _NUM_RE.match(data, i)
        if not m:
            break
        nums.append(int(m.group()))
        i = m.end()
    return nums


# FlateDecode output caps: a few-KB bomb stream can inflate to
# gigabytes inside a Python worker. A stream over the per-stream cap,
# or a document whose streams together inflate past the per-document
# cap, raises zlib.error and is counted as a decode failure.
MAX_INFLATE_STREAM = 64 << 20
MAX_INFLATE_DOC = 256 << 20

# page height in points when a page's /MediaBox gives none
_LETTER_HEIGHT = 792.0


class _Doc:
    """Parsed object graph of one PDF byte string."""

    def __init__(self, buf: bytes) -> None:
        self.buf = buf
        self.inflated = 0               # FlateDecode bytes out so far
        self.cache: dict[int, object] = {}
        self.compressed: dict[int, tuple[int, int]] = {}
        self._objstm_cache: dict[int, dict[int, object]] = {}
        self._font_cache: dict[int, _Font] = {}
        self._enc_key: bytes | None = None
        # stream / string ciphers resolve independently (§7.6.5 /StmF
        # vs /StrF); "none" = Identity pass-through
        self._enc_stream_cipher: str = "rc4"
        self._enc_string_cipher: str = "rc4"
        self._enc_obj_num: int | None = None
        self.offsets, self.trailer = self._load_xref()
        self._setup_encryption()

    def _setup_encryption(self) -> None:
        """Standard security handler (§7.6.3), empty user password —
        the viewable-but-encrypted shape crawled PDFs commonly have.

        V1/V2: RC4 file key via Algorithm 2 (MD5 of padded password +
        /O + /P signed LE + first document ID, R3's 50 re-hash rounds;
        40-bit through 128-bit). V4: same key, cipher chosen by the
        default crypt filter's /CFM — /V2 (RC4) or /AESV2 (AES-128-CBC,
        IV-prefixed payloads). V5 (R5/R6): AES-256 — the file key is
        recovered by decrypting /UE with an intermediate key derived
        from the empty user password and /U's key salt (SHA-256 for R5,
        the iterated 2.B hash for R6)."""
        import hashlib

        if not isinstance(self.trailer, dict):
            return
        enc_ref = self.trailer.get("Encrypt")
        try:
            enc = self.resolve(enc_ref)
        except (ValueError, KeyError):
            return
        if isinstance(enc, tuple):
            enc = enc[0]
        if not (isinstance(enc, dict)
                and str(enc.get("Filter", "")) == "Standard"):
            return
        o = enc.get("O")
        if not isinstance(o, bytes):
            return
        r = int(enc.get("R", 2))
        v = int(enc.get("V", 1))
        self._enc_stream_cipher = self._enc_string_cipher = "rc4"
        if v == 5:
            # AES-256: /U = hash(32) + validation salt(8) + key salt(8)
            u, ue = enc.get("U"), enc.get("UE")
            if not (isinstance(u, bytes) and isinstance(ue, bytes)
                    and len(u) >= 48 and len(ue) >= 32):
                return
            ksalt = u[40:48]
            ik = (_hash_2b(b"", ksalt, b"") if r >= 6
                  else hashlib.sha256(ksalt).digest())
            self._enc_key = _aes.cbc_decrypt(ik, b"\x00" * 16, ue[:32],
                                             unpad=False)
            cf = enc.get("CF")
            self._enc_stream_cipher = _cf_cipher(
                cf, str(enc.get("StmF", "Identity")))
            self._enc_string_cipher = _cf_cipher(
                cf, str(enc.get("StrF", "Identity")))
        else:
            nbits = enc.get("Length", 40)
            if v == 4:
                # crypt filters (§7.6.5): /StmF and /StrF resolve
                # independently through /CF; Identity (the default when
                # absent, or when the named filter has no /CF entry)
                # means NO decryption for that class — applying the RC4
                # key anyway scrambled unencrypted data (ADVICE r5)
                cf = enc.get("CF")
                stmf = str(enc.get("StmF", "Identity"))
                self._enc_stream_cipher = _cf_cipher(cf, stmf)
                self._enc_string_cipher = _cf_cipher(
                    cf, str(enc.get("StrF", "Identity")))
                cfd = cf.get(stmf) if isinstance(cf, dict) else None
                if isinstance(cfd, tuple):
                    cfd = cfd[0]
                if isinstance(cfd, dict):
                    ln = cfd.get("Length")
                    if isinstance(ln, (int, float)):
                        # /CF Length is bytes per spec; many writers
                        # emit bits — normalize by magnitude
                        nbits = int(ln) * 8 if int(ln) <= 40 else int(ln)
            n = max(5, min(int(nbits) // 8, 16))
            p = int(enc.get("P", -1)) & 0xFFFFFFFF
            ids = self.trailer.get("ID")
            id0 = (ids[0] if isinstance(ids, list) and ids
                   and isinstance(ids[0], bytes) else b"")
            md = _PDF_PAD + o + p.to_bytes(4, "little") + id0
            if v >= 4 and enc.get("EncryptMetadata") is False:
                md += b"\xff\xff\xff\xff"
            key = hashlib.md5(md).digest()
            if r >= 3:
                for _ in range(50):
                    key = hashlib.md5(key[:n]).digest()
            self._enc_key = key[:n]
        # the /Encrypt dictionary's own strings (/O, /U) are exempt
        # from decryption (§7.6.2) — remember which object it is
        self._enc_obj_num = enc_ref.num if isinstance(enc_ref, _Ref) \
            else None
        self.cache.clear()              # drop any pre-key parses
        self._objstm_cache.clear()

    def _obj_key(self, num: int, gen: int, cipher: str) -> bytes:
        """Per-object key. RC4/AESV2 (Algorithm 1): MD5(file key +
        objnum LE3 + generation LE2 [+ b'sAlT' for AES]), truncated to
        keylen+5 ≤ 16. V5/AES-256 uses the file key directly."""
        import hashlib

        if len(self._enc_key) == 32:            # V5: no per-object step
            return self._enc_key
        extra = b"sAlT" if cipher == "aes" else b""
        k = hashlib.md5(self._enc_key + num.to_bytes(3, "little")
                        + (gen & 0xFFFF).to_bytes(2, "little")
                        + extra).digest()
        return k[:min(len(self._enc_key) + 5, 16)]

    def _decrypt(self, num: int, raw: bytes, gen: int = 0) -> bytes:
        cipher = self._enc_stream_cipher
        if cipher == "none":
            return raw
        key = self._obj_key(num, gen, cipher)
        if cipher == "aes":
            return _aes.pdf_aes_decrypt(key, raw)
        return _rc4(key, raw)

    def _decrypt_strings(self, v, key: bytes):
        """Strings in encrypted documents use the containing object's
        key and the handler's cipher, same as streams (§7.6.2; the
        /Encrypt dictionary and the file /ID are exempt and handled at
        the call site; AES payloads are IV-prefixed CBC)."""
        if isinstance(v, bytes):
            return (_aes.pdf_aes_decrypt(key, v)
                    if self._enc_string_cipher == "aes" else _rc4(key, v))
        if isinstance(v, dict):
            return {k: self._decrypt_strings(x, key) for k, x in v.items()}
        if isinstance(v, list):
            return [self._decrypt_strings(x, key) for x in v]
        return v

    # -- xref -------------------------------------------------------------
    def _load_xref(self) -> tuple[dict[int, int], dict]:
        """startxref → chain of xref sections (classic tables or PDF-1.5
        cross-reference streams, newest first via /Prev); first
        definition of an object number wins, as incremental updates
        require. Any failure, structural or not (a malformed section
        can raise TypeError or AttributeError as well), degrades to the
        brute-force object scan."""
        buf = self.buf
        try:
            m = None
            for m in _STARTXREF_RE.finditer(buf[-256:] if len(buf) > 256
                                            else buf):
                pass
            if m is None:
                raise ValueError("no startxref")
            off: int | None = int(m.group(1))
            offsets: dict[int, int] = {}
            trailer: dict = {}
            seen: set[int] = set()
            while off is not None and off not in seen:
                seen.add(off)
                i = _skip_ws(buf, off)
                if buf.startswith(b"xref", i):
                    tdict, off = self._xref_classic(i, offsets)
                else:
                    tdict, off = self._xref_stream(i, offsets)
                if not trailer:
                    trailer = tdict
            # validate: every direct offset must actually start "N G obj"
            for num, o in offsets.items():
                mo = _OBJ_RE.match(buf, _skip_ws(buf, o))
                if not mo or int(mo.group(1)) != num:
                    raise ValueError("xref offset mismatch")
            if not trailer:
                raise ValueError("no trailer")
            return offsets, trailer
        except Exception:
            self.compressed = {}
            return self._scan_fallback()

    def _xref_classic(self, i: int, offsets: dict[int, int]
                      ) -> tuple[dict, int | None]:
        buf = self.buf
        i = _skip_ws(buf, i + 4)
        section: list[tuple[int, int]] = []
        while True:
            ms = _XREF_SUB_RE.match(buf, i)
            if not ms:
                break
            start, count = int(ms.group(1)), int(ms.group(2))
            i = ms.end()
            for k in range(count):
                me = _XREF_ENT_RE.match(buf, i)
                if not me:
                    raise ValueError("bad xref entry")
                if me.group(3) == b"n":
                    section.append((start + k, int(me.group(1))))
                i = me.end()
        i = _skip_ws(buf, i)
        if not buf.startswith(b"trailer", i):
            raise ValueError("no trailer")
        trailer, _ = _parse_value(buf, i + 7)
        xs = trailer.get("XRefStm")
        if isinstance(xs, (int, float)):
            # hybrid-reference file (§7.5.8.4): entries in the /XRefStm
            # stream take PRECEDENCE over this classic section, so it
            # is processed first and the classic 'n' entries below only
            # fill numbers the stream left undefined. (First-wins still
            # holds across /Prev generations — newest section first.)
            # A broken hybrid stream degrades to the classic table.
            try:
                self._xref_stream(_skip_ws(buf, int(xs)), offsets)
            except (ValueError, KeyError, OverflowError, zlib.error):
                pass
        for num, off in section:
            if num not in offsets and num not in self.compressed:
                offsets[num] = off
        prev = trailer.get("Prev")
        return trailer, int(prev) if isinstance(prev, (int, float)) else None

    def _xref_stream(self, i: int, offsets: dict[int, int]
                     ) -> tuple[dict, int | None]:
        """PDF-1.5 cross-reference stream (§7.5.8): a stream object of
        packed binary rows — /W field widths, /Index subsections,
        FlateDecode (+ optional PNG /Predictor). Type-1 rows are byte
        offsets; type-2 rows point into a compressed object stream."""
        buf = self.buf
        m = _OBJ_RE.match(buf, i)
        if not m:
            raise ValueError("bad xref offset")
        d, j = _parse_value(buf, m.end())
        if not isinstance(d, dict) or str(d.get("Type", "")) != "XRef":
            raise ValueError("not an xref stream")
        j = _skip_ws(buf, j)
        if not buf.startswith(b"stream", j):
            raise ValueError("xref stream missing data")
        j += 6
        if buf.startswith(b"\r\n", j):
            j += 2
        elif buf[j:j + 1] in (b"\n", b"\r"):
            j += 1
        length = d.get("Length")
        if isinstance(length, int):
            raw = buf[j:j + length]
        else:                       # /Length must be direct here; degrade
            end = buf.find(b"endstream", j)
            raw = buf[j:end] if end >= 0 else b""
        filters = d.get("Filter")
        for f in (filters if isinstance(filters, list)
                  else [filters] if filters is not None else []):
            if str(f) == "FlateDecode":
                raw = self._inflate(raw)
        parms = d.get("DecodeParms")
        if isinstance(parms, list):
            parms = next((p for p in parms if isinstance(p, dict)), {})
        if not isinstance(parms, dict):
            parms = {}
        pred = parms.get("Predictor", 1)
        if isinstance(pred, (int, float)) and pred >= 10:
            raw = _png_unpredict(raw, int(parms.get("Columns", 1)))
        w = [int(x) for x in d.get("W", []) if isinstance(x, (int, float))]
        if len(w) != 3:
            raise ValueError("bad /W")
        size = int(d.get("Size", 0))
        index = d.get("Index") or [0, size]
        ew = sum(w)
        pos = 0
        for t in range(0, len(index) - 1, 2):
            start, count = int(index[t]), int(index[t + 1])
            for num in range(start, start + count):
                if pos + ew > len(raw):
                    break
                e = raw[pos:pos + ew]
                pos += ew
                f1 = int.from_bytes(e[:w[0]], "big") if w[0] else 1
                f2 = int.from_bytes(e[w[0]:w[0] + w[1]], "big")
                f3 = int.from_bytes(e[w[0] + w[1]:], "big")
                if num in offsets or num in self.compressed:
                    continue
                if f1 == 1:
                    offsets[num] = f2
                elif f1 == 2:
                    self.compressed[num] = (f2, f3)
                # f1 == 0: free entry
        prev = d.get("Prev")
        return d, int(prev) if isinstance(prev, (int, float)) else None

    def _scan_fallback(self) -> tuple[dict[int, int], dict]:
        """Corrupt/missing xref: brute-force scan for object headers
        (last definition of a number wins, as incremental updates
        would), surface any objects hidden inside /ObjStm containers,
        and find the catalog by content."""
        offsets: dict[int, int] = {}
        for m in _OBJ_RE.finditer(self.buf):
            offsets[int(m.group(1))] = m.start()
        # obj()/resolve() (e.g. for an indirect /Length) need the map
        # in place before any candidate parse below
        self.offsets = offsets
        # register compressed objects so obj() can reach them even with
        # no xref stream to say where they live (top-level wins)
        for num in list(offsets):
            try:
                v = self._parse_obj(num, offsets)
            except (ValueError, KeyError, zlib.error):
                continue
            d = v[0] if isinstance(v, tuple) else v
            if not (isinstance(d, dict)
                    and str(d.get("Type", "")) == "ObjStm"):
                continue
            try:
                data = self.stream_data(v)
                n = self.resolve(d.get("N"))
                if not isinstance(n, int):
                    continue
                nums = _objstm_header(data, n)
                for k in range(len(nums) // 2):
                    onum = nums[2 * k]
                    if onum not in offsets:
                        self.compressed.setdefault(onum, (num, k))
            except (ValueError, KeyError, zlib.error):
                continue
        trailer: dict = {}
        for num in (*offsets, *self.compressed):
            try:
                v = self.obj(num)
            except (ValueError, KeyError, zlib.error):
                continue
            d = v[0] if isinstance(v, tuple) else v
            if isinstance(d, dict) and str(d.get("Type", "")) == "Catalog":
                trailer = {"Root": _Ref(num),
                           "Size": len(offsets) + len(self.compressed) + 1}
                break
        return offsets, trailer

    # -- objects ----------------------------------------------------------
    def _parse_obj(self, num: int, offsets: dict[int, int] | None = None):
        if offsets is None and num in self.compressed:
            return self._parse_in_objstm(num)
        buf = self.buf
        offs = self.offsets if offsets is None else offsets
        i = _skip_ws(buf, offs[num])
        m = _OBJ_RE.match(buf, i)
        if not m:
            raise ValueError(f"no obj header for {num}")
        gen = int(m.group(2))
        val, i = _parse_value(buf, m.end())
        # encrypted documents: strings decrypt with the containing
        # object's key (§7.6.2) — except inside the /Encrypt dict
        # itself and the cross-reference stream dict
        decrypt_obj = (
            self._enc_key is not None and num != self._enc_obj_num
            and not (isinstance(val, dict)
                     and str(val.get("Type", "")) == "XRef"))
        if decrypt_obj and self._enc_string_cipher != "none":
            val = self._decrypt_strings(
                val, self._obj_key(num, gen, self._enc_string_cipher))
        i = _skip_ws(buf, i)
        if buf.startswith(b"stream", i):
            i += 6
            if buf.startswith(b"\r\n", i):
                i += 2
            elif buf.startswith(b"\n", i) or buf.startswith(b"\r", i):
                i += 1
            length = self.resolve(val.get("Length"))
            if not isinstance(length, int):
                end = buf.find(b"endstream", i)
                length = max(end - i, 0)
            raw = buf[i:i + length]
            # streams RC4 per object too (the cross-reference stream
            # itself is never encrypted §7.5.8.2)
            if decrypt_obj:
                raw = self._decrypt(num, raw, gen)
            return (val, raw)
        return val

    def _parse_in_objstm(self, num: int):
        """Object living inside a compressed object stream (/ObjStm,
        §7.5.7): the stream's data starts with /N (objnum, offset)
        integer pairs; object k's value is parsed at /First + offset
        (no 'N G obj' header). The whole container is parsed once and
        cached."""
        stm_num, _idx = self.compressed[num]
        if stm_num in self.compressed:      # containers must be direct
            raise ValueError("nested object stream")
        objs = self._objstm_cache.get(stm_num)
        if objs is None:
            container = self.obj(stm_num)
            d = container[0] if isinstance(container, tuple) else None
            if not isinstance(d, dict):
                raise ValueError("bad object stream container")
            data = self.stream_data(container)
            n = self.resolve(d.get("N"))
            first = self.resolve(d.get("First"))
            if not isinstance(n, int) or not isinstance(first, int):
                raise ValueError("bad /N or /First")
            nums = _objstm_header(data, n)
            if len(nums) < 2 * n:
                raise ValueError("bad objstm header")
            objs = {}
            for k in range(n):
                v, _ = _parse_value(data, first + nums[2 * k + 1])
                objs[nums[2 * k]] = v
            self._objstm_cache[stm_num] = objs
        return objs[num]

    def obj(self, num: int):
        if num not in self.cache:
            self.cache[num] = self._parse_obj(num)
        return self.cache[num]

    def resolve(self, v):
        seen = 0
        while isinstance(v, _Ref):
            v = self.obj(v.num)
            seen += 1
            if seen > 32:                       # ref cycle guard
                return None
        return v

    # -- streams ----------------------------------------------------------
    def _inflate(self, raw: bytes) -> bytes:
        """zlib-decompress one stream within the output caps; like
        `zlib.decompress`, a truncated stream raises and trailing bytes
        after the end of the stream are ignored."""
        limit = min(MAX_INFLATE_STREAM, MAX_INFLATE_DOC - self.inflated)
        d = zlib.decompressobj()
        out = d.decompress(raw, limit + 1)
        if len(out) > limit:
            raise zlib.error("FlateDecode output over cap")
        if not d.eof:
            raise zlib.error("incomplete or truncated stream")
        self.inflated += len(out)
        return out

    def stream_data(self, v) -> bytes:
        v = self.resolve(v)
        if not (isinstance(v, tuple) and len(v) == 2):
            return b""
        d, raw = v
        filters = self.resolve(d.get("Filter"))
        if filters is None:
            filters = []
        elif not isinstance(filters, list):
            filters = [filters]
        for f in filters:                       # chains apply in order
            name = str(f)
            if name == "FlateDecode":
                raw = self._inflate(raw)
            elif name == "ASCIIHexDecode":
                raw = _ascii_hex_decode(raw)
            elif name == "ASCII85Decode":
                raw = _ascii85_decode(raw)
            elif name == "RunLengthDecode":
                raw = _run_length_decode(raw)
            elif name == "LZWDecode":
                parms = self.resolve(d.get("DecodeParms"))
                ec = 1
                if isinstance(parms, dict):
                    e = self.resolve(parms.get("EarlyChange"))
                    if isinstance(e, (int, float)):
                        ec = int(e)
                raw = _lzw_decode(raw, early_change=ec)
            # unknown filters: pass bytes through, count elsewhere
        return raw

    # -- page tree --------------------------------------------------------
    def pages(self) -> list[dict]:
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            return []
        out: list[dict] = []
        # resolved nodes are cached per object number, so identity keys
        # a node: a /Kids cycle or a repeated kid is walked once
        visited: set[int] = set()

        def walk(node, inherited: dict, depth: int = 0) -> None:
            node = self.resolve(node)
            if isinstance(node, tuple):
                node = node[0]
            if (not isinstance(node, dict) or depth > 64
                    or id(node) in visited):
                return
            visited.add(id(node))
            # /Resources and /MediaBox are inheritable page attributes
            # (§7.7.3.4) — carry them down the /Kids chain
            inh = inherited
            for key in ("Resources", "MediaBox"):
                if key in node:
                    if inh is inherited:
                        inh = dict(inherited)
                    inh[key] = node[key]
            if str(node.get("Type", "")) == "Page":
                for key, val in inh.items():
                    node.setdefault(key, val)
                out.append(node)
                return
            for kid in self.resolve(node.get("Kids")) or []:
                walk(kid, inh, depth + 1)

        walk(root.get("Pages"), {})
        return out

    def page_height(self, page: dict) -> float:
        """MediaBox height in points; US-Letter 792 for a box that is
        missing, malformed, unresolvable (a dangling or truncated
        reference) or not convertible (a coordinate past float range)."""
        try:
            mb = self.resolve(page.get("MediaBox"))
            if isinstance(mb, list) and len(mb) == 4:
                return float(mb[3]) - float(mb[1])
        except Exception:
            pass
        return _LETTER_HEIGHT

    def page_content(self, page: dict) -> bytes:
        cont = self.resolve(page.get("Contents"))
        parts: list[bytes] = []
        if isinstance(cont, list):
            for c in cont:
                parts.append(self.stream_data(c))
        elif cont is not None:
            parts.append(self.stream_data(cont))
        # streams concatenate with whitespace between (§7.8.2)
        return b"\n".join(parts)

    def page_fonts(self, page: dict) -> dict[str, "_Font"]:
        """Resource-name → _Font map for a page: the byte/CID → unicode
        decoder plus the glyph metrics the word-box emitter needs
        (/Widths + /FirstChar or /W + /DW, /FontDescriptor /Ascent
        /Descent /MissingWidth). Cached per indirect font object."""
        out: dict[str, _Font] = {}
        res = self.resolve(page.get("Resources")) or {}
        fonts = self.resolve(res.get("Font")) or {}
        if not isinstance(fonts, dict):
            return out
        for name, ref in fonts.items():
            key = ref.num if isinstance(ref, _Ref) else None
            if key is not None and key in self._font_cache:
                out[str(name)] = self._font_cache[key]
                continue
            font = self.resolve(ref)
            if isinstance(font, tuple):
                font = font[0]
            if not isinstance(font, dict):
                continue
            f = self._font_info(font)
            if key is not None:
                self._font_cache[key] = f
            out[str(name)] = f
        return out

    def _font_info(self, font: dict) -> "_Font":
        f = _Font()
        desc_font = font
        if str(font.get("Subtype", "")) == "Type0":
            f.cid = True
            f.cmap = self._to_unicode_cmap(font.get("ToUnicode"))
            f.default_width = 1000.0            # /DW default (§9.7.4.3)
            kids = self.resolve(font.get("DescendantFonts"))
            kid = self.resolve(kids[0]) if isinstance(kids, list) and kids \
                else None
            if isinstance(kid, tuple):
                kid = kid[0]
            if isinstance(kid, dict):
                desc_font = kid
                dw = self.resolve(kid.get("DW"))
                if isinstance(dw, (int, float)):
                    f.default_width = float(dw)
                w = self.resolve(kid.get("W"))
                if isinstance(w, list):
                    f.widths = _parse_cid_widths(w)
        else:
            enc = self.resolve(font.get("Encoding"))
            if isinstance(enc, dict):
                diffs = self.resolve(enc.get("Differences")) or []
                table = list(_WINANSI)
                code = 0
                for item in diffs:
                    if isinstance(item, (int, float)):
                        code = int(item)
                    elif isinstance(item, _Name):
                        u = _glyph_to_unicode(str(item))
                        if 0 <= code < 256:
                            table[code] = ("�" if u is None or "\x00" in u
                                           else u)
                        code += 1
                f.table = table
            # name encodings: WinAnsiEncoding is the base table already;
            # MacRoman/Standard differ only outside ASCII — out of scope
        fd = self.resolve(desc_font.get("FontDescriptor"))
        if isinstance(fd, tuple):
            fd = fd[0]
        if isinstance(fd, dict):
            a = self.resolve(fd.get("Ascent"))
            d = self.resolve(fd.get("Descent"))
            mw = self.resolve(fd.get("MissingWidth"))
            if isinstance(a, (int, float)):
                f.ascent = float(a)
            if isinstance(d, (int, float)):
                f.descent = float(d)
            if not f.cid and isinstance(mw, (int, float)):
                f.default_width = float(mw)
        if not f.cid:
            first = self.resolve(font.get("FirstChar"))
            widths = self.resolve(font.get("Widths"))
            if isinstance(first, int) and isinstance(widths, list):
                table_w = [f.default_width] * 256
                for k, w in enumerate(widths):
                    w = self.resolve(w)
                    if isinstance(w, (int, float)) \
                            and 0 <= first + k < 256:
                        table_w[first + k] = float(w)
                f.widths = table_w
        return f

    def _to_unicode_cmap(self, ref) -> dict[int, str] | None:
        """Parse a /ToUnicode CMap stream into {2-byte CID → str}."""
        v = self.resolve(ref)
        if not (isinstance(v, tuple) and len(v) == 2):
            return None
        data = self.stream_data(v)
        cmap: dict[int, str] = {}

        def u16(hx: bytes) -> str:
            try:
                return bytes.fromhex(hx.decode("ascii")).decode(
                    "utf-16-be", "replace")
            except (ValueError, UnicodeDecodeError):
                return "�"

        for block in _BFCHAR_RE.finditer(data):
            for m in _HEXPAIR_RE.finditer(block.group(1)):
                cmap[int(m.group(1), 16)] = u16(m.group(2))
        for block in _BFRANGE_RE.finditer(data):
            for m in _RANGE_RE.finditer(block.group(1)):
                lo, hi = int(m.group(1), 16), int(m.group(2), 16)
                if m.group(3):                      # <lo> <hi> <dstStart>
                    base = int(m.group(3), 16)
                    width = len(m.group(3))
                    for k in range(min(hi - lo + 1, 65536)):
                        cmap[lo + k] = u16(
                            b"%0*x" % (width, base + k))
                else:                               # <lo> <hi> [<d> <d> …]
                    dsts = _HEXONE_RE.findall(m.group(4))
                    for k, d in enumerate(dsts):
                        if lo + k <= hi:
                            cmap[lo + k] = u16(d)
        # an unmapped CID is the CID loop's decode failure
        cmap = {c: u for c, u in cmap.items() if "\x00" not in u}
        return cmap if cmap else None


# --- content stream ----------------------------------------------------

_INLINE_IMG_END = re.compile(rb"[\x00\t\n\x0c\r ]EI(?=[\x00\t\n\x0c\r ]|$)")

# content-stream token: leading whitespace/comments folded into the
# match so `_extract_page`'s loop makes one C-level regex call per
# token. Group order encodes precedence: number before operator, '<<'
# before '<'.
_CTOK_RE = re.compile(
    rb"(?:[\x00\t\n\x0c\r ]|%[^\n]*\n?)*"
    rb"(?:(?P<num>[+-]?(?:\d+\.?\d*|\.\d+))"
    rb"|/(?P<name>[^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
    rb"|(?P<op>[A-Za-z'\"*]+)"
    rb"|(?P<open>\[)|(?P<close>\])"
    rb"|(?P<dict><<)|(?P<hex><)|(?P<lit>\()"
    rb"|(?P<junk>.))", re.S)


# A text segment: one show op's glyph clusters with their x-extents.
# (y_baseline, clusters, x_starts, x_ends, ascent_pts, descent_pts) —
# clusters align 1:1 with the x arrays (a CID may decode to a
# multi-codepoint string, so clusters are atomic units, not chars).
# Positions need not ascend (negative widths, Tc or TJ kerning move x
# back); line assembly sorts every glyph by its x start.
_Seg = tuple[float, list[str], list[float], list[float], float, float]

# pdfplumber's default x_tolerance: a horizontal gap wider than this
# between adjacent glyphs starts a new word (and, when neither side
# already carries an explicit space, inserts one into the line text —
# the TJ-kerning-as-word-spacing case)
_X_TOL = 3.0


def _extract_page(content: bytes, fonts: dict[str, _Font], tables: dict
                  ) -> tuple[list[_Seg], int, int]:
    """Lex one page's content stream and run the text-state machine
    over it, in one loop.

    Tracks the full character-positioning state — current font (Tf),
    size, horizontal scale (Tz), char/word spacing (Tc/Tw), leading
    (TL/TD), line starts (Td/TD/Tm/T*) — and accumulates each shown
    glyph's x-advance from the font's width metrics, so shows emit
    positioned glyph runs instead of anchor-point text. Advance math
    (canonical order, mirrored by the datagen writer twin):
        glyph_w   = (width_of(code) * size) / 1000.0
        glyph_end = x + glyph_w * (tz / 100.0)
        x_next    = x + (glyph_w + tc [+ tw if byte 32]) * (tz / 100.0)
    TJ numbers move x by -(n * size) / 1000.0 * (tz / 100.0)."""
    first_font = next(iter(fonts.values()), _DEFAULT_FONT)
    font = first_font
    size = 0.0
    tz = 100.0
    tc = tw = 0.0
    leading = 0.0
    lx = ly = 0.0                       # line start
    x = y = 0.0                         # current point
    segs: list[_Seg] = []
    operands: list = []
    n_ops = failures = 0
    scale = 1.0
    # per-byte advance tables for the current simple-font state
    # (memoized — Tf/Tz per show is common and the rebuild is 256 ops;
    # `tables` is one dict per DOCUMENT so repeated pages share it).
    # The key holds the _Font itself, not its id(): the memo keeps
    # every font it saw alive, so a direct (uncached) font dict's
    # _Font can never be freed and its id reused by another font.
    gend_cache: list[float] = [0.0] * 256
    adv_cache: list[float] = [0.0] * 256

    def rebuild() -> None:
        nonlocal scale, gend_cache, adv_cache
        scale = tz / 100.0
        if font.cid:
            return
        key = (font, size, tz, tc, tw)
        hit = tables.get(key)
        if hit is None:
            # listcomp form of the historical per-code loop — same
            # expression order per element, so every double is
            # bit-identical (pinned by the layout goldens)
            if size == 0.0:
                # pre-Tf state (size 0): every glyph width is 0
                gend = [0.0] * 256
                adv = [(0.0 + tc + 0.0) * scale] * 256
                adv[32] = (0.0 + tc + tw) * scale
            else:
                w = font.widths
                if w is None:
                    gw = (font.default_width * size) / 1000.0
                    gws = [gw] * 256
                elif isinstance(w, dict):
                    dw = font.default_width
                    gws = [(w.get(c, dw) * size) / 1000.0
                           for c in range(256)]
                else:
                    gws = [(wi * size) / 1000.0 for wi in w]
                gend = [g * scale for g in gws]
                adv = [(g + tc + 0.0) * scale for g in gws]
                adv[32] = (gws[32] + tc + tw) * scale
            hit = tables[key] = (gend, adv)
        gend_cache, adv_cache = hit

    rebuild()

    def emit(raw: bytes) -> None:
        nonlocal x, failures
        clusters: list[str] = []
        xs0: list[float] = []
        xs1: list[float] = []
        if font.cid:
            cmap = font.cmap or {}
            data = raw
            if len(data) % 2:
                failures += 1
                data = data[:-1]
            for i in range(0, len(data), 2):
                cid = (data[i] << 8) | data[i + 1]
                ch = cmap.get(cid)
                if ch is None:
                    failures += 1
                    ch = "�"
                gw = (font.width_of(cid) * size) / 1000.0
                xs0.append(x)
                xs1.append(x + gw * scale)
                clusters.append(ch)
                x = x + (gw + tc) * scale
        else:
            # C-speed listcomps; accumulate() applies the same
            # sequential float adds as the scalar loop, so positions
            # are bit-identical (pinned by the layout goldens)
            table = font.table
            clusters = [table[b] for b in raw]
            failures += clusters.count("�")
            adv, gend = adv_cache, gend_cache
            cums = list(accumulate((adv[b] for b in raw), initial=x))
            xs0 = cums[:-1]
            xs1 = [c + gend[b] for c, b in zip(cums, raw)]
            x = cums[-1]
        if clusters:
            segs.append((y, clusters, xs0, xs1,
                         (font.ascent * size) / 1000.0,
                         (font.descent * size) / 1000.0))

    # one loop lexes each token and dispatches each operator. An
    # operand is a bare value — float, str (name), bytes (string) or
    # list (array) — so its Python type is its kind. Arrays nest on
    # `arrs`; an operator inside an open array still runs, and the
    # array stays open for the operator after its ']'.
    arrs: list[list] = []
    i, n = 0, len(content)
    match = _CTOK_RE.match
    while i < n:
        m = match(content, i)
        if m is None:                           # whitespace-only tail
            break
        i = m.end()
        lg = m.lastgroup
        if lg == "num":
            v = float(m.group("num"))
        elif lg == "op":
            op = m.group("op").decode("latin-1")
            if op == "BI":                      # inline image (§8.9.7):
                # binary sample data follows ID and would poison the
                # lexer; skip through the EI terminator (whitespace-
                # delimited, the practical heuristic every parser uses
                # since the data is unframed). Not an operator: the
                # pending operands carry over.
                me = _INLINE_IMG_END.search(content, i)
                i = me.end() if me else n
                continue
            n_ops += 1
            try:
                if op == "BT":
                    lx = ly = x = y = 0.0
                elif op == "Tf" and len(operands) >= 2:
                    # guard: ficha-style streams re-issue Tf per cell
                    # with the same state — skip the (memo-hit) rebuild
                    sz = float(operands[-1])
                    f2 = font
                    if isinstance(operands[-2], str):
                        f2 = fonts.get(operands[-2], first_font)
                    if sz != size or f2 is not font:
                        size, font = sz, f2
                        rebuild()
                elif op == "Tz" and operands:
                    v2 = float(operands[-1])
                    if v2 != tz:
                        tz = v2
                        rebuild()
                elif op == "Tc" and operands:
                    v2 = float(operands[-1])
                    if v2 != tc:
                        tc = v2
                        rebuild()
                elif op == "Tw" and operands:
                    v2 = float(operands[-1])
                    if v2 != tw:
                        tw = v2
                        rebuild()
                elif op == "Td" and len(operands) >= 2:
                    lx += operands[-2]
                    ly += operands[-1]
                    x, y = lx, ly
                elif op == "TD" and len(operands) >= 2:
                    leading = -operands[-1]
                    lx += operands[-2]
                    ly += operands[-1]
                    x, y = lx, ly
                elif op == "TL" and operands:
                    leading = operands[-1]
                elif op == "Tm" and len(operands) >= 6:
                    lx = operands[-2]
                    ly = operands[-1]
                    x, y = lx, ly
                elif op == "T*":
                    ly -= leading
                    x, y = lx, ly
                elif op in ("Tj", "'", '"') and operands \
                        and isinstance(operands[-1], bytes):
                    if op == '"' and len(operands) >= 3:
                        tw = float(operands[-3])
                        tc = float(operands[-2])
                        rebuild()
                    if op != "Tj":              # ' and " start a line
                        ly -= leading
                        x, y = lx, ly
                    emit(operands[-1])
                elif op == "TJ" and operands \
                        and isinstance(operands[-1], list):
                    for e in operands[-1]:
                        if isinstance(e, bytes):
                            emit(e)
                        elif isinstance(e, (int, float)):
                            x = x - ((e * size) / 1000.0) * scale
            except (TypeError, IndexError, ValueError):
                failures += 1
            operands.clear()
            continue
        elif lg == "lit":
            v, i = _parse_literal_string(content, i - 1)
        elif lg == "name":
            raw = m.group("name")
            if b"#" in raw:                     # rare: #XX escapes
                v = str(_parse_name(b"/" + raw, 0)[0])
            else:
                v = raw.decode("latin-1")
        elif lg == "open":
            arrs.append([])
            continue
        elif lg == "close":
            if not arrs:
                continue
            v = arrs.pop()
        elif lg == "dict":                      # inline dict (e.g. BDC)
            try:
                _, i = _parse_value(content, i - 2)
            except ValueError:                  # malformed: skip the '<<'
                pass
            continue
        elif lg == "hex":
            v, i = _parse_hex_string(content, i - 1)
        else:                                   # junk byte: skip
            continue
        (arrs[-1] if arrs else operands).append(v)
    return segs, n_ops, failures


def _assemble_page(segs: list[_Seg], height: float, doctop0: float,
                   want_words: bool) -> tuple[list[str], list[tuple]]:
    """Segments → (line texts top-to-bottom, word boxes).

    Lines group by baseline y rounded to 0.1 pt; within a line glyph
    clusters sort by x start (stable, so zero-advance degenerate shows
    keep stream order). Line text inserts a single space where the gap
    between adjacent glyphs exceeds `_X_TOL` and neither side already
    is a space (kerning- or positioning-as-word-spacing). Words split
    at explicit ASCII spaces and at the same gap rule — the
    `extract_words` shape the reference's layout engine consumes
    (text, x0, x1, top, bottom, doctop); top/bottom derive from the
    font's ascent/descent exactly as pdfplumber does. NBSP does NOT
    split a word (it is a glyph, not an inter-word gap). Every page
    takes this one glyph walk; `want_words` only gates the word boxes
    (the text tier leaves them empty)."""
    lines: dict[float, list[_Seg]] = {}
    for seg in segs:
        lines.setdefault(round(seg[0], 1), []).append(seg)
    texts: list[str] = []
    words: list[tuple] = []
    for key in sorted(lines, reverse=True):
        items: list[tuple[float, float, str, float, float]] = []
        for y, clusters, xs0, xs1, apts, dpts in lines[key]:
            top = height - (y + apts)
            bottom = height - (y + dpts)
            for i, cl in enumerate(clusters):
                items.append((xs0[i], xs1[i], cl, top, bottom))
        items.sort(key=lambda it: it[0])
        parts: list[str] = []
        prev_x1: float | None = None
        prev_cl = ""
        # current word accumulator
        w_text: list[str] = []
        w_x0 = w_x1 = w_top = w_bot = 0.0

        def flush() -> None:
            nonlocal w_text
            if w_text:
                words.append(("".join(w_text), w_x0, w_x1, w_top,
                              w_bot, doctop0 + w_top))
                w_text = []

        for x0c, x1c, cl, top, bottom in items:
            gap_break = (prev_x1 is not None and x0c - prev_x1 > _X_TOL)
            if gap_break and not cl.startswith(" ") \
                    and not prev_cl.endswith(" "):
                parts.append(" ")
            parts.append(cl)
            if want_words:
                if cl == " ":
                    flush()
                else:
                    if w_text and gap_break:
                        flush()
                    if not w_text:
                        w_x0, w_x1 = x0c, x1c
                        w_top, w_bot = top, bottom
                    else:
                        w_x1 = max(w_x1, x1c)
                        w_top = min(w_top, top)
                        w_bot = max(w_bot, bottom)
                    w_text.append(cl)
            prev_x1 = x1c if prev_x1 is None else max(prev_x1, x1c)
            prev_cl = cl
        if want_words:
            flush()
        texts.append("".join(parts))
    return texts, words


class _Page(NamedTuple):
    """One walked page (words stay empty unless the walk wants them)."""
    lines: list[str]
    words: list[tuple]
    n_ops: int
    decode_failures: int
    height: float


def _walk(pdf: bytes, want_words: bool) -> tuple[list[_Page], int]:
    """The one per-document walk every PDF front door projects. Each
    page's height → content → fonts → text-state machine → assembly
    runs inside one guard: any exception makes that page empty with one
    decode failure. `doctop` runs over preceding page heights and one
    font-table cache serves every page. → (pages, the document's decode
    failures: 1 for non-empty bytes with no parseable page tree)."""
    if not pdf:
        return [], 0
    try:
        doc = _Doc(pdf)
        tree = doc.pages()
    except Exception:
        tree = []
    if not tree:
        return [], 1
    pages: list[_Page] = []
    tables: dict = {}
    doctop = 0.0
    for page in tree:
        height = _LETTER_HEIGHT
        try:
            height = doc.page_height(page)
            segs, n_ops, failures = _extract_page(
                doc.page_content(page), doc.page_fonts(page), tables)
            lines, words = _assemble_page(segs, height, doctop, want_words)
            pages.append(_Page(lines, words, n_ops, failures, height))
        except Exception:
            pages.append(_Page([], [], 0, 1, height))
        doctop += height
    return pages, sum(p.decode_failures for p in pages)


def parse_pdf_doc(pdf: bytes) -> list[dict]:
    """One document → list of page dicts
    (page_idx, text, n_lines, n_ops, decode_failures).
    Lines = glyph runs grouped by baseline y (rounded to 0.1 pt),
    top-to-bottom; within a line glyphs order by x position."""
    pages, failures = _walk(pdf, want_words=False)
    if failures and not pages:
        # nonempty bytes with no parseable page tree: surface one
        # failure row so per-page audit metrics count hard failures
        return [dict(page_idx=0, text="", n_lines=0, n_ops=0,
                     decode_failures=1)]
    return [dict(page_idx=idx, text="\n".join(p.lines),
                 n_lines=len(p.lines), n_ops=p.n_ops,
                 decode_failures=p.decode_failures)
            for idx, p in enumerate(pages)]


def parse_pdf_layout_doc(pdf: bytes) -> dict:
    """One document → {pages: [(words, text)], height, n_ops,
    decode_failures}: the real-bytes front door for the Engine-2 layout
    kernel. Words are `extract_words`-shaped tuples
    (text, x0, x1, top, bottom, doctop) per page — the exact input
    contract of the reference's layout engine
    (processors/ficha_financeira_processor.py:424); height is the
    first page's."""
    pages, failures = _walk(pdf, want_words=True)
    return dict(pages=[(p.words, "\n".join(p.lines)) for p in pages],
                height=pages[0].height if pages else 0.0,
                n_ops=sum(p.n_ops for p in pages), decode_failures=failures)


PARSED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("page_idx", T.IntegerType()),
    T.StructField("text", T.StringType()),
    T.StructField("n_lines", T.IntegerType()),
    T.StructField("n_ops", T.IntegerType()),
    T.StructField("decode_failures", T.IntegerType()),
])


DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("n_pages", T.IntegerType()),
    T.StructField("n_lines", T.IntegerType()),
    T.StructField("n_ops", T.IntegerType()),
    T.StructField("decode_failures", T.IntegerType()),
])


LAYOUT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("n_pages", T.IntegerType()),
    T.StructField("n_words", T.IntegerType()),
    T.StructField("decode_failures", T.IntegerType()),
])


def _map_pdfs(df: DataFrame, key_col: str, pdf_col: str,
              schema: T.StructType,
              rows: Callable[[bytes], list[tuple]]) -> DataFrame:
    """The one Spark batch loop of the PDF tier (scan → mapInPandas,
    shuffle-free): `rows(pdf)` turns one document's bytes (None reads
    as empty) into its output rows, each written after the key."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield pd.DataFrame(
                [(key, *row)
                 for key, raw in zip(batch[key_col], batch[pdf_col])
                 for row in rows(bytes(raw) if raw is not None else b"")],
                columns=schema.names)

    return df.select(key_col, pdf_col).mapInPandas(run, schema)


def parse_pdf_docs(df: DataFrame, pdf_col: str = "pdf",
                   id_col: str = "doc_id") -> DataFrame:
    """(doc_id, text, n_pages, n_lines, n_ops, decode_failures) — one
    row per DOCUMENT, page texts joined by newlines. Whole PDFs arrive
    one per row (the pages-table contract), so reassembly is
    kernel-local and the tier has zero exchanges; use `parse_pdf_pages`
    + a keyed aggregation only when pages arrive as separate rows."""
    def doc_row(pdf: bytes) -> list[tuple]:
        pages, failures = _walk(pdf, want_words=False)
        return [("\n".join("\n".join(p.lines) for p in pages), len(pages),
                 sum(len(p.lines) for p in pages),
                 sum(p.n_ops for p in pages), failures)]

    return _map_pdfs(df, id_col, pdf_col, DOC_SCHEMA, doc_row)


def parse_pdf_pages(df: DataFrame, pdf_col: str = "pdf",
                    id_col: str = "doc_id") -> DataFrame:
    """(doc_id, page_idx, text, n_lines, n_ops, decode_failures) — one
    row per `parse_pdf_doc` page dict, whose keys are in schema order."""
    return _map_pdfs(df, id_col, pdf_col, PARSED_SCHEMA,
                     lambda pdf: [tuple(p.values())
                                  for p in parse_pdf_doc(pdf)])


def parse_pdf_layout(df: DataFrame, pdf_col: str = "pdf",
                     key_col: str = "url") -> DataFrame:
    """(url, html, text, n_pages, n_words, decode_failures) — raw PDF
    bytes as the PAGES-TABLE CONTRACT (`layout_row`) the Engine-2
    layout kernel consumes, so `engine2.extract_ficha(result)` runs the
    reference's Ficha Financeira extraction directly from PDF bytes."""
    return _map_pdfs(df, key_col, pdf_col, LAYOUT_SCHEMA,
                     lambda pdf: [layout_row(pdf)])


def layout_row(raw: bytes | None) -> tuple[bytes, str, int, int, int]:
    """One document's raw PDF bytes (None reads as empty) → its
    pages-table row after the url: (html = WBX2 payload of the per-page
    word boxes, b"" when no page parsed; text = page texts joined with
    form-feeds; n_pages; n_words; decode_failures). `parse_pdf_layout`
    and the extraction job's document pass (`docpass.py`) both build
    rows here."""
    from ..payload import encode_layout

    parsed = parse_pdf_layout_doc(bytes(raw) if raw is not None else b"")
    pages = parsed["pages"]
    words_pages = [p[0] for p in pages]
    html = encode_layout(parsed["height"], words_pages) if pages else b""
    return (html, "\f".join(p[1] for p in pages), len(pages),
            sum(len(w) for w in words_pages), parsed["decode_failures"])
