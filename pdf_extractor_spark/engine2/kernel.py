"""Engine-2 layout-extraction kernel (Arrow-batched event-stream).

Re-expresses the reference's per-word Python loops
(``processors/ficha_financeira_processor.py:387-852``: column-center
detection G1, center carry-forward G2, month-block segmentation G3/G4,
cross-page block carry G5, row assembly G6, nearest-center value→month
assignment G7) over the flattened word-box node array of each page.
Inner loops are deliberately scalar Python over ~10-word line groups
(measured faster than numpy indexing at that size — see ``_Page``);
numpy is used only where whole-page vector math wins.

Execution shape: the pages table holds ONE ROW PER DOCUMENT, so the
kernel runs per document — under ``mapInPandas`` in
``pipeline.extract_ficha``, or inside the extraction job's document pass
(``docpass.py``, whose one url exchange only brings a url's captures
together) — embarrassingly parallel. Cross-page
state (G2/G5) never crosses documents, so it lives entirely inside the
per-document call. At 100 TB the only skew risk is
a single giant document serializing one task; the scan partitioning
(`maxPartitionBytes`) bounds rows per task. A page-range split with a
carry-state handoff was measured and deleted: at 4 cores it ran
1.3-1.9× slower than this one call on 6,000- and 18,000-page documents
(``BENCH/BASELINE.md``, "Skew mode").

Output is a long table ``(url, code, year, month, value, ...)`` plus one
``__metrics__`` row per document carrying lineage counters (pages
parsed, decode failures, conflict overwrites, expired carries, person
name) for the audit table.
"""

from __future__ import annotations

import re
from decimal import Decimal
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from ..oracle_ref import e2_person_name  # shared scalar; test-parity critical
from ..payload import decode_layout_columnar

# storage-code config (reference TARGET_CODES, ficha_financeira_processor.py:53-71)
TARGET_CODES = [
    # (code, column, search_prefix, alias_for)
    ("1-Salario", 1, "1-Salario", None),
    ("6-Horas", 1, "6 -", None),
    ("14-Horas100", 1, "14 -", None),
    ("8-Insalubridade", 2, "8-Insalubridade", None),
    ("205-Insalubridade-ACS", 2, "205", "8-Insalubridade"),
    ("3123-Base", 2, "3123-Base", None),
    ("167-Ferias", 2, "167", None),
    ("168-Ferias", 2, "168", None),
    ("173-Ferias", 2, "173", None),
    ("174-Ferias", 2, "174", None),
    ("527-INSS-Comp", 1, "527", None),
    ("527-INSS-Valor", 2, "527", None),
    ("952-FaltaInjustifica", 1, "952", None),
]
MAX_BLOCK_CARRY = 3  # reference :98

NUMBER_RE = re.compile(r"^\d{1,3}(?:\.\d{3})*,\d+$|^\d+(?:,\d+)?$")
YEAR_RE = re.compile(r"^\d{4}$")
WS_RE = re.compile(r"\s+")

MONTH_MAP = {
    "janeiro": 1, "fevereiro": 2, "marco": 3, "março": 3, "abril": 4,
    "maio": 5, "junho": 6, "julho": 7, "agosto": 8, "setembro": 9,
    "outubro": 10, "novembro": 11, "dezembro": 12,
}

# (name, Spark type, Arrow type) of every kernel output column
E2_FIELDS = [
    ("url", "string", pa.string()),
    ("code", "string", pa.string()),
    ("year", "int", pa.int32()),
    ("month", "int", pa.int32()),
    ("value", "string", pa.string()),
    ("pages", "int", pa.int32()),
    ("decode_failures", "int", pa.int32()),
    ("conflicts", "int", pa.int32()),
    ("carry_expired", "int", pa.int32()),
    ("person", "string", pa.string()),
]
E2_LONG_SCHEMA = ", ".join(f"{n} {t}" for n, t, _ in E2_FIELDS)
E2_LONG_COLS = [n for n, _, _ in E2_FIELDS]

METRICS_CODE = "__metrics__"


def _norm_code(t: str) -> str:
    """Code-text normalization (reference :630-633, `oracle_ref._norm_code`):
    NFKD, NBSP→space, U+2011/U+2013→'-', strip all whitespace. ASCII
    fast path — pages are overwhelmingly ASCII tokens and full NFKD per
    word dominated the kernel profile. NFKD leaves ASCII unchanged, and
    every ASCII whitespace character but the space is a non-printable
    control, so a printable ASCII word without a space is its own
    normal form."""
    if t.isascii():
        return t if t.isprintable() and " " not in t else WS_RE.sub("", t)
    import unicodedata

    s = unicodedata.normalize("NFKD", t).replace("\xa0", " ")
    s = s.replace("‑", "-").replace("–", "-")
    return WS_RE.sub("", s)


class _Page:
    """Per-page word-box view: plain lists for the scalar hot paths
    (rows are ~10 words once grouped by line key — python scalars beat
    numpy indexing there), numpy only where whole-page vector math wins
    (G3 sorting)."""

    __slots__ = ("texts", "norm", "x0", "x1", "top", "bottom", "line_key",
                 "cy", "cx", "is_num", "n", "key_groups", "group_span",
                 "origin_cache")

    def __init__(self, texts, x0, x1, top, bottom, line_key, cy, cx):
        """Columnar constructor (lists pre-materialized from the block
        decode in `decode_pages_fast` — no per-word tuple traffic)."""
        self.n = len(texts)
        self.texts = texts
        self.x0, self.x1, self.top, self.bottom = x0, x1, top, bottom
        self.line_key, self.cy, self.cx = line_key, cy, cx
        self.norm = [_norm_code(t) for t in self.texts]
        self.is_num = [NUMBER_RE.match(t) is not None for t in self.texts]
        groups: dict[int, list[int]] = {}
        for i, k in enumerate(self.line_key):
            groups.setdefault(k, []).append(i)
        self.key_groups = groups
        # per-group y span: a provably-empty-row precheck for G6
        self.group_span = {
            k: (min(self.top[i] for i in g), max(self.bottom[i] for i in g))
            for k, g in groups.items()
        }
        self.origin_cache: dict[int, tuple] = {}

    def origin(self, i: int) -> tuple:
        """Word-box identity key for the reference's occurrence dedup
        (:558-571); memoized — anchors are re-probed once per block."""
        o = self.origin_cache.get(i)
        if o is None:
            o = (round(self.top[i] * 100), round(self.bottom[i] * 100),
                 round(self.x0[i] * 100), round(self.x1[i] * 100))
            self.origin_cache[i] = o
        return o


def _column_centers(pg: _Page) -> tuple[list[float], list[float]]:
    comp = [c for t, c in zip(pg.texts, pg.cx) if t == "Comp."]
    valor = [c for t, c in zip(pg.texts, pg.cx) if t == "Valor"]
    return comp, valor


def _month_blocks(pg: _Page, page_h: float, comp: list[float],
                  valor: list[float]) -> list[dict]:
    """G3/G4: 4-digit year anchors + same-row month names → blocks."""
    order = sorted(range(pg.n), key=lambda i: (pg.cy[i], pg.x0[i]))
    cy_r = [round(c, 1) for c in pg.cy]
    blocks: list[dict] = []
    for idx in order:
        t = pg.texts[idx]
        if not (len(t) == 4 and t.isdigit()):
            continue
        rc = round(pg.cy[idx], 1)
        same_row = [j for j in order if abs(cy_r[j] - rc) < 0.2]
        names = [pg.texts[j] for j in same_row if pg.texts[j] != t]
        if not names:
            continue
        months, ci, vi = [], 0, 0
        for name in names:
            nl = name.strip().lower()
            if nl == "*totais*":      # consumes a valor slot, maps no month
                vi += 1
                continue
            mn = MONTH_MAP.get(nl)
            if not mn:
                continue
            months.append((mn,
                           comp[ci] if ci < len(comp) else None,
                           valor[vi] if vi < len(valor) else None))
            ci += 1
            vi += 1
        if months:
            blocks.append(dict(year=int(t), months=months,
                               y_start=rc, y_end=page_h))
    blocks.sort(key=lambda b: b["y_start"])
    for i, b in enumerate(blocks):
        nxt = blocks[i + 1]["y_start"] if i + 1 < len(blocks) else page_h
        b["y_end"] = nxt - 0.5
    return blocks


_BOUNDARY = set("0123456789.,")

# TARGET_CODES with each search prefix in `_norm_code` form
_TARGETS = [(code, column, _norm_code(prefix), alias)
            for code, column, prefix, alias in TARGET_CODES]


def _build_prefix_dispatch() -> dict[str, list[tuple[str, bool, int]]]:
    """First-character dispatch table over the distinct normalized
    prefixes: one pass over the page's words replaces 13 full scans
    (same match + numeric-boundary semantics, reference :564-567)."""
    seen: set[str] = set()
    by_char: dict[str, list[tuple[str, bool, int]]] = {}
    for _code, _col, npfx, _alias in _TARGETS:
        if npfx in seen:
            continue
        seen.add(npfx)
        by_char.setdefault(npfx[0], []).append(
            (npfx, npfx.isdigit(), len(npfx)))
    return by_char


_PFX_DISPATCH = _build_prefix_dispatch()


def _prefix_masks(pg: _Page) -> dict[str, list[int]]:
    """Per-page candidate word indices for every target prefix."""
    masks: dict[str, list[int]] = {}
    dispatch = _PFX_DISPATCH
    for i, t in enumerate(pg.norm):
        cands = dispatch.get(t[:1])
        if not cands:
            continue
        for npfx, numeric, ln in cands:
            if not t.startswith(npfx):
                continue
            if numeric and len(t) > ln and t[ln] in _BOUNDARY:
                # '952' must not match '9521' / '952,3'
                continue
            masks.setdefault(npfx, []).append(i)
    return masks


def run_pages(pages: list, page_h: float) -> list:
    """Core page loop (G1-G7 + A1 event stream) over one document.

    Returns the ordered event list: ('v', storage_code, year, month,
    value_str) for every value assignment (the A1 last-write-wins fold
    and conflict count happen over this stream) and ('x', None, None,
    None, None) for every expired carry. The cross-page state (G2
    column centers, G5 pending blocks) lives in this one call.
    """
    events: list = []
    pending: list[dict] = []
    last_comp: list[float] = []
    last_valor: list[float] = []

    for pg in pages:
        if pg.n == 0:
            continue
        comp, valor = _column_centers(pg)
        if comp:
            last_comp = comp
        else:
            comp = last_comp
        if valor:
            last_valor = valor
        else:
            valor = last_valor

        extracted = _month_blocks(pg, page_h, comp, valor)
        next_start = min((b["y_start"] for b in extracted), default=page_h)

        active: list[tuple[dict, dict]] = []
        for st in pending:
            cb = dict(st["block"], y_start=0.0,
                      y_end=max(0.0, min(next_start - 0.5, page_h)))
            active.append((cb, st))
        for b in extracted:
            active.append((b, dict(block=b, carry=0)))

        pfx_masks = _prefix_masks(pg)

        nxt_pending: list[dict] = []
        for block, st in active:
            has_vals = False
            bounds = [c for (_m, cc, vc) in block["months"]
                      for c in (cc, vc) if c is not None]
            code_max_x = max(0.0, min(bounds) - 12.0) if bounds else None

            for code, column, npfx, alias in _TARGETS:
                cand = pfx_masks.get(npfx)
                if not cand:
                    continue
                if code_max_x is not None:
                    idxs = [i for i in cand if pg.x1[i] <= code_max_x]
                else:
                    idxs = cand
                if not idxs:
                    continue
                y_start, y_end = block["y_start"], block["y_end"]
                seen: set = set()
                for ai in idxs:
                    a_top, a_bot = pg.top[ai] - 0.5, pg.bottom[ai] + 0.5
                    row_top = y_start if y_start > a_top else a_top
                    row_bot = y_end if y_end < a_bot else a_bot
                    # provably-empty precheck: no word of the anchor's
                    # line group overlaps the clamped row band
                    g_top, g_bot = pg.group_span[pg.line_key[ai]]
                    if g_bot < row_top or g_top > row_bot:
                        continue
                    origin = pg.origin(ai)
                    if origin in seen:
                        continue
                    seen.add(origin)
                    got = _row_values(pg, ai, block, column, row_top, row_bot)
                    if not got:
                        continue
                    has_vals = True
                    storage = alias or code
                    for (y, m), vs in got:
                        events.append(("v", storage, y, m, vs))

            if not has_vals:
                nc = st["carry"] + 1
                if nc <= MAX_BLOCK_CARRY:
                    nxt_pending.append(dict(block=st["block"], carry=nc))
                else:
                    events.append(("x", None, None, None, None))
        pending = nxt_pending

    return events


def fold_events(events: list) -> tuple[dict, int, int]:
    """A1 fold: last-write-wins per (code, year, month) in event order,
    counting overwrites with a different Decimal value (reference
    :498-506) and expired carries (:508-522)."""
    values: dict[str, dict[tuple[int, int], str]] = {}
    conflicts = 0
    carry_expired = 0
    for kind, code, y, m, vs in events:
        if kind == "x":
            carry_expired += 1
            continue
        tgt = values.setdefault(code, {})
        old = tgt.get((y, m))
        if old is not None and old != vs and Decimal(old) != Decimal(vs):
            conflicts += 1
        tgt[(y, m)] = vs
    return values, conflicts, carry_expired


def decode_pages_fast(html) -> tuple[float, list]:
    """Payload → (page_h, pages): columnar decode (block float decode +
    one text split) straight into `_Page` objects — no per-word tuples.
    Raises on anything but an empty or well-formed WBX2 payload."""
    if html is None or len(html) == 0:
        return 0.0, []
    page_h, counts, texts, cols = decode_layout_columnar(html)
    x0, x1, top, bottom = (cols[i].tolist() for i in range(4))
    # reference line key round(doctop*100) (:612-628): np.rint is the
    # same round-half-even as oracle_ref's scalar round for binary
    # doubles, and (top+bottom)/2 is exact in IEEE either way
    line_key = np.rint(cols[4] * 100.0).astype(np.int64).tolist()
    cy = ((cols[2] + cols[3]) / 2.0).tolist()
    cx = ((cols[0] + cols[1]) / 2.0).tolist()
    pages = []
    a = 0
    for n in counts.tolist():
        b = a + n
        pages.append(_Page(
            texts[a:b], x0[a:b], x1[a:b], top[a:b], bottom[a:b],
            line_key[a:b], cy[a:b], cx[a:b]))
        a = b
    return page_h, pages


def apply_vacation_values(values: dict) -> None:
    """A6 vacation adjustment (in place, reference :935-996):
    3123-Base[key] += 527-Valor / (527-Comp / 100) wherever both 527
    series exist and comp != 0, with default-context Decimal division
    and a canonical-string roundtrip. The adjustment is local to one
    document, so it runs in the per-document finisher at zero shuffles.
    Byte-identity with oracle_ref is pinned by tests/test_engine2.py."""
    comp = values.get("527-INSS-Comp")
    valor = values.get("527-INSS-Valor")
    if not comp or not valor:
        return
    base = values.setdefault("3123-Base", {})
    for key, c in comp.items():
        v = valor.get(key)
        if v is None:
            continue
        dc = Decimal(c)
        if dc == 0:
            continue
        divisor = dc / Decimal("100")
        if divisor == 0:
            continue
        additional = Decimal(v) / divisor
        old = base.get(key)
        base[key] = str(Decimal(old) + additional) if old is not None \
            else str(additional)


def extract_doc(url: str, html, text: str,
                adjust_vacation: bool = False) -> tuple[list, tuple]:
    """One document's layout payload and text → (value rows, metrics
    row), both in ``E2_FIELDS`` order: the page loop, the A1 fold, then
    A6 when `adjust_vacation`. Only the first page of `text` is read
    (the person-name scan)."""
    decode_failures = 0
    try:
        page_h, pages = decode_pages_fast(html)
    except Exception:
        page_h, pages = 0.0, []
        decode_failures = 1
    values, conflicts, carry_expired = fold_events(run_pages(pages, page_h))
    if adjust_vacation:
        apply_vacation_values(values)
    rows = [(url, code, y, m, vs, None, None, None, None, None)
            for code in sorted(values)
            for (y, m), vs in sorted(values[code].items())]
    metrics = (url, METRICS_CODE, 0, 0, None, len(pages), decode_failures,
               conflicts, carry_expired, e2_person_name(text or ""))
    return rows, metrics


def _row_values(pg: _Page, anchor: int, block: dict, column: int,
                row_top: float, row_bot: float) -> list[tuple[tuple[int, int], str]]:
    """G6 row assembly + G7 nearest-center month assignment for one
    anchor. Candidates share the anchor's line key (a ~10-word group),
    so this runs scalar over the key group instead of masking the page.
    row_top/row_bot are the block-clamped band (computed at the call
    site, which prechecks group overlap)."""
    min_x = pg.x0[anchor] - 1.0
    code_cy = pg.cy[anchor]

    widx = [wi for wi in pg.key_groups[pg.line_key[anchor]]
            if pg.is_num[wi]
            and not (pg.bottom[wi] < row_top or pg.top[wi] > row_bot)
            and pg.x1[wi] >= min_x
            and abs(pg.cy[wi] - code_cy) <= 0.3]
    if not widx:
        return []
    # sort by (x0, x1) like the reference (:605) so later columns of the
    # same month overwrite earlier ones in the same insert order
    widx.sort(key=lambda wi: (pg.x0[wi], pg.x1[wi]))

    months = block["months"]
    targets = []
    for (_mn, cc, vc) in months:
        t = cc if column == 1 else vc
        if t is None:
            t = vc if column == 1 else cc
        targets.append(t)
    if all(t is None for t in targets):
        return []

    year = block["year"]
    out: list[tuple[tuple[int, int], str]] = []
    for wi in widx:
        center = pg.cx[wi]
        best_mn, best_d = None, None
        for k, t in enumerate(targets):
            if t is None:
                continue
            d = abs(center - t)
            if d <= 25.0 and (best_d is None or d < best_d):
                best_mn, best_d = months[k][0], d
        if best_mn is not None:
            cleaned = pg.texts[wi].replace(".", "").replace(",", ".")
            out.append(((year, best_mn), cleaned))
    return out


def make_extract_kernel(adjust_vacation: bool = False):
    """mapInPandas kernel factory: pages-table batches → long rows.
    `adjust_vacation=True` applies A6 in the per-document finisher."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows: list = []
            for url, html, text in zip(pdf["url"], pdf["html"], pdf["text"]):
                rows, metrics = extract_doc(url, html, text, adjust_vacation)
                out_rows.extend(rows)
                out_rows.append(metrics)
            yield pd.DataFrame(out_rows, columns=E2_LONG_COLS)

    return kernel

