"""Engine-1 per-document kernel (Arrow-batched line loop).

Re-expresses the reference's per-document loop
(``pdf_processor_core.py:436-593`` per page, ``884-911`` per document)
as one Python pass per document under ``mapInArrow``:

* F1 page classification and the C3 reference-date cascade;
* a line prefilter (every rule code is a run of 8 ASCII digits, so only
  lines holding such a run can match) and the 13-rule F2 containment
  match;
* the C1/C2 last-two-numbers parse, once per matched line;
* the A2-A5 page rules, and last-page-wins per (folha_type, year,
  month) — the reference's dict overwrite.

Execution shape: one input row per document, so the stage is
shuffle-free; nothing crosses documents. The output is one long table
(``E1_LONG_SCHEMA``): value rows (``kind = 'value'``), attention rows
(``kind`` = the attention kind) and one ``__metrics__`` row per
document carrying the page counters of ``pipeline.page_metrics`` — the
same convention as Engine 2's kernel.

Whole-page regexes stand in for the reference's per-line ones, so
their whitespace is ``[^\\S\\n]`` wherever the reference matched inside
one line: a match must not cross a line break.
"""

from __future__ import annotations

import re
from typing import Iterator, Optional, Union

import pyarrow as pa

from .rules import E1_RULES, SUMABLE

FOLHA_NORMAL = "FOLHA NORMAL"
SALARIO_13 = "13 SALARIO"
VALUE_KIND = "value"
METRICS_KIND = "__metrics__"

# (name, Spark type, Arrow type) of every kernel output column
E1_FIELDS = [
    ("url", "string", pa.string()),
    ("kind", "string", pa.string()),
    ("folha_type", "string", pa.string()),
    ("year", "int", pa.int32()),
    ("month", "int", pa.int32()),
    ("excel_col", "string", pa.string()),
    ("num", "double", pa.float64()),
    ("txt", "string", pa.string()),
    ("is_time", "boolean", pa.bool_()),
    ("description", "string", pa.string()),
    ("codes", "array<string>", pa.list_(pa.string())),
    ("total_pages", "bigint", pa.int64()),
    ("ignored", "bigint", pa.int64()),
    ("no_date", "bigint", pa.int64()),
    ("folha_normal_pages", "bigint", pa.int64()),
    ("salario13_pages", "bigint", pa.int64()),
]
E1_LONG_SCHEMA = ", ".join(f"{n} {t}" for n, t, _ in E1_FIELDS)
_ARROW_SCHEMA = pa.schema([(n, t) for n, _, t in E1_FIELDS])

# a parsed token: float, 'HH,MM' string, or None (reference C2)
Value = Optional[Union[float, str]]

# ---------------------------------------------------------------------------
# F1 classifier + C3 reference date
# ---------------------------------------------------------------------------

_TIPO = re.compile(r"Tipo[^\S\n]+da[^\S\n]+folha[^\S\n]*:", re.I)
_FOLHA_NORMAL = re.compile(r"FOLHA\s+NORMAL", re.I)
_SAL13 = re.compile(r"13\s*SAL[AÁ]RIO", re.I)
_IGNORE = re.compile(r"F[ÉE]RIAS|ADIANTAMENTO|RESCIS[ÃA]O", re.I)
_IGNORE_HEAD = re.compile(r"F[ÉE]RIAS|ADIANTAMENTO\s*SALARIAL|RESCIS[ÃA]O",
                          re.I)

_MONTHS = {m: i + 1 for i, m in enumerate(
    ["janeiro", "fevereiro", "março", "abril", "maio", "junho", "julho",
     "agosto", "setembro", "outubro", "novembro", "dezembro"])}
_MONTHS.update({m[:3]: i for m, i in list(_MONTHS.items())})
# tried in order; within a pattern, matches in order (reference :347-380)
_DATES = [re.compile(p, re.I) for p in (
    r"Referência:\s*(\w+)/(\d{4})",
    r"Referencia:\s*(\w+)/(\d{4})",
    r"Data\s*do\s*c[aá]lculo:\s*\d{2}/(\d{2})/(\d{4})",
    r"Per[ií]odo:\s*(\w+)/(\d{4})",
    r"Compet[êe]ncia:\s*(\w+)/(\d{4})",
    r"(\w+)\s*/\s*(\d{4})",
)]


def _line_at(page: str, start: int, end: int) -> tuple[str, int]:
    """The whole line around page[start:end] and the offset just past it."""
    lo = page.rfind("\n", 0, start) + 1
    hi = page.find("\n", end)
    if hi < 0:
        hi = len(page)
    return page[lo:hi], hi + 1


def classify(page: str) -> Optional[str]:
    """F1 (pdf_processor_core.py:595-643): 'FOLHA NORMAL', '13 SALARIO'
    or 'IGNORAR'; None when every `Tipo da folha:` line names an
    unknown type (the reference leaves the type unset and drops the
    page). Lines are tried in order; without a tipo line the first ten
    lines decide."""
    pos, found = 0, False
    while (m := _TIPO.search(page, pos)):
        line, pos = _line_at(page, m.start(), m.end())
        if _FOLHA_NORMAL.search(line):
            return FOLHA_NORMAL
        if _SAL13.search(line):
            return SALARIO_13
        if _IGNORE.search(line):
            return "IGNORAR"
        found = True
    if found:
        return None
    head = "\n".join(page.split("\n", 10)[:10])
    if _SAL13.search(head):
        return SALARIO_13
    if _IGNORE_HEAD.search(head):
        return "IGNORAR"
    return FOLHA_NORMAL


def reference_date(page: str) -> Optional[tuple[int, int]]:
    """C3: (year, month) of the first match, over the ordered patterns,
    whose month token is a Portuguese month name, its 3-letter
    abbreviation or an integer 1-12; None when no match qualifies."""
    for pat in _DATES:
        for m in pat.finditer(page):
            mes = m.group(1).lower()
            month = _MONTHS.get(mes)
            if month is None:
                try:
                    month = int(mes)
                except ValueError:
                    continue
                if not 1 <= month <= 12:
                    continue
            return int(m.group(2)), month
    return None


# ---------------------------------------------------------------------------
# C1/C2 number parse
# ---------------------------------------------------------------------------

_NUM_TOKEN = re.compile(r"\d+(?:[.,:]\d+)*")
_HHMM = re.compile(r"\d{1,2}:\d{2}")


def parse_token(tok: str) -> Value:
    """C2 `convert_to_float_robust` (pdf_processor_core.py:384-413) over
    one numeric token (digits joined by '.', ',' or ':'): 'HH:MM' →
    'HH,MM'; otherwise the branch order decides which separator is the
    decimal point; unparseable → None."""
    if _HHMM.fullmatch(tok):
        return tok.replace(":", ",")
    s = tok.replace(":", "")
    if s.count(",") == 1:
        s = s.replace(".", "").replace(",", ".")
    elif "," in s and s.count(".") == 1:
        s = s.replace(",", "")
    elif "," in s and "." not in s:
        s = s.replace(",", ".")
    try:
        return float(s)
    except ValueError:
        return None


def last_two_numbers(line: str) -> tuple[Value, Value]:
    """C1 (pdf_processor_core.py:415-426): (índice, valor) from the last
    two numeric tokens; índice is None with fewer than two."""
    toks = _NUM_TOKEN.findall(line)
    return (parse_token(toks[-2]) if len(toks) > 1 else None,
            parse_token(toks[-1]) if toks else None)


# ---------------------------------------------------------------------------
# A2-A5 page rules
# ---------------------------------------------------------------------------

# per folha type, in the reference's rule order:
# (code, description, excel_col, source, fallback_to_valor)
_RULES = {ft: [r[1:] for r in E1_RULES if r[0] == ft]
          for ft in (FOLHA_NORMAL, SALARIO_13)}
_SUM_COL = {code: col for col, codes in SUMABLE.items() for code in codes}
_SUM_DESC = {col: desc for code, desc, col, *_ in _RULES[FOLHA_NORMAL]
             if code in _SUM_COL}
_B13_ORDER = ("09090301", "09090101")     # A5: 09090301 preferred
_CODE_RUN = re.compile(r"[0-9]{8}")


def _code_lines(page: str) -> Iterator[str]:
    """The lines holding a run of 8 ASCII digits, in page order."""
    pos = 0
    while (m := _CODE_RUN.search(page, pos)):
        line, pos = _line_at(page, m.start(), m.end())
        yield line


def _nonzero(v: Value) -> bool:
    # reference `x is not None and x != 0`; 'HH,MM' strings never equal 0
    return v is not None and v != 0


def extract_page(page: str, folha_type: str) -> tuple[dict, list]:
    """One classified, dated page → ({excel_col: value}, attention rows
    (kind, description, codes, excel_col))."""
    rules = _RULES[folha_type]
    data: dict[str, Value] = {}
    sums: dict[str, dict[str, Value]] = {}    # A3: col → code → last use
    dups: dict[str, tuple[str, list]] = {}    # A4: desc → (col, codes)
    b13: dict[str, Value] = {}                # A5: code → last valor
    for line in _code_lines(page):
        hits = [r for r in rules if r[0] in line]
        if not hits:
            continue
        indice, valor = last_two_numbers(line)
        for code, desc, col, source, fallback in hits:
            if folha_type == SALARIO_13:
                b13[code] = valor
                continue
            # A2: índice when non-zero, else valor when the rule falls back
            if source == "valor":
                use = valor
            elif _nonzero(indice):
                use = indice
            else:
                use = valor if fallback else None
            if use is None:
                continue
            if code in _SUM_COL:
                sums.setdefault(col, {})[code] = use
            else:
                data[col] = use
                dups.setdefault(desc, (col, []))[1].append(code)

    attention = []
    for col, by_code in sums.items():
        if len(by_code) == 1:
            data[col] = next(iter(by_code.values()))
            continue
        # the reference's sum raises on an 'HH,MM' operand; the numeric
        # operands are summed in code order (None when there are none)
        nums = [by_code[c] for c in sorted(by_code)
                if not isinstance(by_code[c], str)]
        data[col] = sum(nums[1:], nums[0]) if nums else None
        attention.append(("soma_automatica", _SUM_DESC[col],
                          sorted(by_code), col))
    for desc, (col, codes) in dups.items():
        if len(codes) > 1:
            attention.append(("duplicidade_descricao", desc, sorted(codes),
                              col))
    if folha_type == SALARIO_13:
        for code in _B13_ORDER:
            if _nonzero(b13.get(code)):
                data["B"] = b13[code]
                break
    return data, attention


# ---------------------------------------------------------------------------
# per document → long rows
# ---------------------------------------------------------------------------

def extract_doc(url: str, text: str) -> list[tuple]:
    """One document → its long rows (``E1_FIELDS`` order): the winning
    page's values and attention per (folha_type, year, month), then the
    metrics row."""
    pages = text.split("\f")
    won: dict[tuple, tuple[dict, list]] = {}
    ignored = no_date = n_normal = n_13 = 0
    for page in pages:
        folha_type = classify(page)
        if folha_type == FOLHA_NORMAL:
            n_normal += 1
        elif folha_type == SALARIO_13:
            n_13 += 1
        else:
            ignored += 1
            continue
        ref = reference_date(page)
        if ref is None:
            no_date += 1
            continue
        data, attention = extract_page(page, folha_type)
        if data:
            won[(folha_type, *ref)] = data, attention
    none5 = (None,) * 5
    rows = []
    for (folha_type, year, month), (data, attention) in won.items():
        for col, v in data.items():
            is_time = isinstance(v, str)
            rows.append((url, VALUE_KIND, folha_type, year, month, col,
                         None if is_time else v, v if is_time else None,
                         is_time, None, None) + none5)
        for kind, desc, codes, col in attention:
            rows.append((url, kind, folha_type, year, month, col, None,
                         None, None, desc, codes) + none5)
    rows.append((url, METRICS_KIND) + (None,) * 9
                + (len(pages), ignored, no_date, n_normal, n_13))
    return rows


def _batch(rows: list[tuple]) -> pa.RecordBatch:
    cols = list(zip(*rows)) if rows else [()] * len(E1_FIELDS)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=t) for c, t in zip(cols, _ARROW_SCHEMA.types)],
        schema=_ARROW_SCHEMA)


def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel: (url, text) batches → long rows. Documents
    with null or empty text have no pages and emit nothing."""
    for batch in batches:
        rows: list[tuple] = []
        for url, text in zip(batch.column("url").to_pylist(),
                             batch.column("text").to_pylist()):
            if text:
                rows.extend(extract_doc(url, text))
        yield _batch(rows)
