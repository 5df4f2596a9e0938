"""Deterministic synthetic corpus generator.

Produces the BASELINE-mandated pages table
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``
— one row per document — entirely from a fixed seed, no external data.

Three document families (selected by a per-doc hash):

* ``synth://folha/...``  — Engine-1 payload: ``text`` holds ``\\f``-joined
  page texts in the line-oriented "Recibo Modelo 1" grammar
  (reference grammar: ``pdf_processor_core.py:428-643``).
* ``synth://ficha/...``  — Engine-2 payload: ``html`` holds the per-page
  word-box node arrays in the "Ficha Financeira" layout grammar
  (reference grammar: ``processors/ficha_financeira_processor.py:387-852``),
  ``text`` holds minimal page texts (page 1 carries the Nome/Matr line
  used for person-name extraction, reference ``:854-912``).
* ``synth://noise/...``  — negative controls (English pages, no codes).

Every reference edge case is planted deterministically: sum pairs,
índice-zero fallbacks, HH:MM hour tokens, missing-date pages, IGNORAR
pages, prefix-boundary traps (``9521`` vs ``952``), NBSP/U+2011 code
text, cross-page block carry, expired carry, value conflicts
(last-write-wins), ``*Totais*`` slot consumption, and a long-tail page
count distribution for skew tests.

Generation is a pure function of ``(seed, doc_id)`` so it distributes:
``corpus_df`` builds the table with ``spark.range(n) → mapInPandas`` —
embarrassingly parallel, no driver-side materialization, which is the
same shape a 100 TB backfill generator would take.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import random
from typing import Iterator

from .payload import Word, encode_layout

BASE_TS = _dt.datetime(2025, 7, 14, 19, 3, 42)

# bump whenever generated content OR cached layout changes — benchmark
# corpus caches key on it so stale corpora are never reused (r4: the
# default partition floor moved to the core count, which changes the
# cached parquet's file layout and thus warm-up/scan parallelism)
DATAGEN_REV = 4

MONTH_FULL = [
    "janeiro", "fevereiro", "março", "abril", "maio", "junho",
    "julho", "agosto", "setembro", "outubro", "novembro", "dezembro",
]
# layout grammar writes month names without diacritics (as in the fixture PDF)
MONTH_PLAIN = [
    "Janeiro", "Fevereiro", "Marco", "Abril", "Maio", "Junho",
    "Julho", "Agosto", "Setembro", "Outubro", "Novembro", "Dezembro",
]

NAMES = [
    "JOAO DA SILVA", "MARIA OLIVEIRA SANTOS", "ANGELA CRISTINA LIRA",
    "CARLOS EDUARDO PEREIRA", "ANA PAULA FERREIRA", "JOSE ROBERTO ALMEIDA",
    "FERNANDA COSTA RIBEIRO", "PAULO HENRIQUE GOMES",
]

PAGE_H = 842.0
COMP_CENTERS = [150.0 + 105.0 * i for i in range(4)]
VALOR_CENTERS = [200.0 + 105.0 * i for i in range(4)]
TOTAIS_CENTER = 620.0


def _h(seed: int, doc_id: int, tag: str = "") -> int:
    b = hashlib.sha256(f"{seed}:{doc_id}:{tag}".encode()).digest()
    return int.from_bytes(b[:8], "big")


def fmt_br(value: float) -> str:
    """Format a 2-dp float Brazilian style: 1234.5 → '1.234,50'."""
    s = f"{value:,.2f}"
    return s.replace(",", "\x00").replace(".", ",").replace("\x00", ".")


def _months_seq(start_year: int, start_month: int, n: int) -> list[tuple[int, int]]:
    out, y, m = [], start_year, start_month
    for _ in range(n):
        out.append((y, m))
        m += 1
        if m > 12:
            m, y = 1, y + 1
    return out


# ---------------------------------------------------------------------------
# Engine-1 (line/regex) documents
# ---------------------------------------------------------------------------

def _e1_value(rng: random.Random, lo: float = 10.0, hi: float = 9000.0) -> float:
    return round(rng.uniform(lo, hi), 2)


def _e1_page(rng: random.Random, name: str, year: int, month: int,
             variant: int) -> str:
    """One FOLHA NORMAL page. ``variant`` selects which edge cases appear."""
    lines = [
        "EMPRESA EXEMPLO LTDA - RECIBO DE PAGAMENTO",
        f"Nome: {name}",
    ]
    if variant % 11 != 3:  # a few pages rely on header-fallback classification
        lines.append("Tipo da folha: FOLHA NORMAL")
    lines.append(f"Referência: {MONTH_FULL[month - 1]}/{year}")
    lines.append("Cod      Descricao                    Indice    Valor")

    # salario contrib INSS (column B, source=valor) — always present
    lines.append(f"F 09090301 SALARIO CONTRIB INSS {fmt_br(_e1_value(rng, 1500, 8000))}")

    # PREMIO PROD (column X, indice with fallback_to_valor)
    if variant % 3 == 0:
        # sum pair: 01003601 + 01003602 in the same period → SUM + attention
        lines.append(f"P 01003601 PREMIO PROD. MENSAL {fmt_br(_e1_value(rng, 1, 9))} {fmt_br(_e1_value(rng))}")
        lines.append(f"P 01003602 PREMIO PROD. MENSAL {fmt_br(_e1_value(rng, 1, 9))} {fmt_br(_e1_value(rng))}")
    elif variant % 3 == 1:
        # índice zero → fallback to valor
        lines.append(f"P 01003601 PREMIO PROD. MENSAL 0,00 {fmt_br(_e1_value(rng))}")
    else:
        lines.append(f"P 01017101 PREMIO PRO. (R) {fmt_br(_e1_value(rng, 1, 9))} {fmt_br(_e1_value(rng))}")

    # HORAS EXT 100% (column Y) — HH:MM índice form on some pages
    if variant % 4 == 0:
        hh, mm = rng.randint(1, 12), rng.randint(0, 59)
        lines.append(f"P 01007301 HORAS EXT.100%-180 {hh:02d}:{mm:02d} {fmt_br(_e1_value(rng))}")
    elif variant % 4 == 1:
        # sum pair Y
        lines.append(f"P 01007301 HORAS EXT.100%-180 {fmt_br(_e1_value(rng, 1, 80))} {fmt_br(_e1_value(rng))}")
        lines.append(f"P 01007302 HORAS EXT.100%-180 {fmt_br(_e1_value(rng, 1, 80))} {fmt_br(_e1_value(rng))}")
    elif variant % 4 == 2:
        lines.append(f"P 01007301 HORAS EXT.100%-180 {fmt_br(_e1_value(rng, 1, 80))} {fmt_br(_e1_value(rng))}")

    # ADIC NOTURNO (column AE): two distinct codes → last line wins
    if variant % 5 == 0:
        lines.append(f"P 01009001 ADIC.NOT.25%-180 {fmt_br(_e1_value(rng, 1, 40))} {fmt_br(_e1_value(rng))}")
        lines.append(f"P 01022001 ADICIONAL NOTURNO 25% (R) {fmt_br(_e1_value(rng, 1, 40))} {fmt_br(_e1_value(rng))}")
    elif variant % 5 == 1:
        # same code twice → description-duplicate attention (no sum)
        lines.append(f"P 01009001 ADIC.NOT.25%-180 {fmt_br(_e1_value(rng, 1, 40))} {fmt_br(_e1_value(rng))}")
        lines.append(f"P 01009001 ADIC.NOT.25%-180 {fmt_br(_e1_value(rng, 1, 40))} {fmt_br(_e1_value(rng))}")

    # HORAS EXT 75% (column AA)
    if variant % 2 == 0:
        lines.append(f"P 01003501 HORAS EXT.75%-180 {fmt_br(_e1_value(rng, 1, 60))} {fmt_br(_e1_value(rng))}")

    lines.append(f"Liquido a receber ==> {fmt_br(_e1_value(rng, 1000, 9000))}")
    return "\n".join(lines)


def _e1_page_13sal(rng: random.Random, name: str, year: int, variant: int) -> str:
    lines = [
        "EMPRESA EXEMPLO LTDA - RECIBO DE PAGAMENTO",
        f"Nome: {name}",
        "Tipo da folha: 13 SALARIO",
        f"Referência: dezembro/{year}",
    ]
    v301 = fmt_br(_e1_value(rng, 1500, 8000))
    v101 = fmt_br(_e1_value(rng, 1500, 8000))
    if variant % 3 == 0:       # only the preferred code
        lines.append(f"F 09090301 SALARIO CONTRIB INSS {v301}")
    elif variant % 3 == 1:     # only the fallback code
        lines.append(f"F 09090101 REMUNERACAO BRUTA {v101}")
    else:                      # both; preferred (09090301) wins
        lines.append(f"F 09090101 REMUNERACAO BRUTA {v101}")
        lines.append(f"F 09090301 SALARIO CONTRIB INSS {v301}")
    return "\n".join(lines)


def _e1_page_ignorar(name: str, year: int, month: int, kind: int) -> str:
    label = ["FÉRIAS", "ADIANTAMENTO", "RESCISÃO"][kind % 3]
    return "\n".join([
        "EMPRESA EXEMPLO LTDA",
        f"Nome: {name}",
        f"Tipo da folha: {label}",
        f"Referência: {MONTH_FULL[month - 1]}/{year}",
        "P 01003601 PREMIO PROD. MENSAL 5,00 500,00",
    ])


def _e1_page_nodate(name: str) -> str:
    # no Referência and no `word/NNNN` token anywhere → silently skipped
    # (decode-failure metric, reference pdf_processor_core.py:904-906)
    return "\n".join([
        "EMPRESA EXEMPLO LTDA",
        f"Nome: {name}",
        "Tipo da folha: FOLHA NORMAL",
        "Pagina de continuacao sem data de referencia",
        "P 01003601 PREMIO PROD. MENSAL 5,00 500,00",
    ])


def gen_e1_doc(seed: int, doc_id: int) -> tuple[str, str]:
    """Returns (text payload, person name) for a folha document."""
    h = _h(seed, doc_id, "e1")
    rng = random.Random(h)
    name = NAMES[h % len(NAMES)]
    n_periods = 120 if h % 97 == 0 else 8 + h % 16  # long tail for skew
    start_y, start_m = 2020 + h % 4, 1 + h % 12

    pages: list[str] = []
    for k, (y, m) in enumerate(_months_seq(start_y, start_m, n_periods)):
        variant = _h(seed, doc_id, f"v{k}") % 9973
        pages.append(_e1_page(rng, name, y, m, variant))
        if m == 12:
            pages.append(_e1_page_13sal(rng, name, y, variant))
        if variant % 13 == 5:
            pages.append(_e1_page_ignorar(name, y, m, variant))
        if variant % 17 == 7:
            pages.append(_e1_page_nodate(name))
    return "\f".join(pages), name


# ---------------------------------------------------------------------------
# Engine-2 (layout/word-box) documents
# ---------------------------------------------------------------------------

def _word(text: str, x_center: float, top: float, page_idx: int,
          half_w: float = 15.0) -> Word:
    bottom = top + 6.0
    return (text, x_center - half_w, x_center + half_w, top, bottom,
            page_idx * PAGE_H + top)


def _code_word(text: str, x0: float, top: float, page_idx: int) -> Word:
    # 4.2 pt/char keeps the longest code ("205-Insalubridade-ACS",
    # x1 = 113.2) clear of the category column at 120 — word boxes must
    # never touch (gap > 3 pt): a physical page renderer/parser pair
    # (pdfplumber and ops/pdfstream alike) merges adjacent glyph runs
    # into one word, so touching boxes are unrealizable geometry
    x1 = x0 + 4.2 * len(text)
    bottom = top + 6.0
    return (text, x0, x1, top, bottom, page_idx * PAGE_H + top)


class _PageBuilder:
    def __init__(self) -> None:
        self.pages: list[list[Word]] = []
        self.y = PAGE_H  # force new page on first use

    def new_page(self, with_headers: bool) -> None:
        self.pages.append([])
        self.y = 40.0
        if with_headers:
            pi = len(self.pages) - 1
            for c in COMP_CENTERS:
                self.pages[-1].append(_word("Comp.", c, 55.0, pi, half_w=12.0))
            for c in VALOR_CENTERS + [TOTAIS_CENTER]:
                self.pages[-1].append(_word("Valor", c, 55.0, pi, half_w=12.0))
            self.y = 70.0

    @property
    def page_idx(self) -> int:
        return len(self.pages) - 1

    def add(self, words: list[Word]) -> None:
        self.pages[-1].extend(words)


def _block_header(pb: _PageBuilder, year: int, q: int, with_totais: bool) -> None:
    pi = pb.page_idx
    y = pb.y
    row = [_word(str(year), 115.0, y, pi, half_w=10.0)]
    for i in range(4):
        mname = MONTH_PLAIN[q * 4 + i]
        center = (COMP_CENTERS[i] + VALOR_CENTERS[i]) / 2.0
        row.append(_word(mname, center, y, pi, half_w=20.0))
    if with_totais:
        row.append(_word("*Totais*", TOTAIS_CENTER, y, pi, half_w=18.0))
    pb.add(row)
    pb.y = y + 16.0


def _code_row(pb: _PageBuilder, code_text: str, cat: str, comp_vals: list[str | None],
              valor_vals: list[str | None], totais_val: str | None = None) -> None:
    pi = pb.page_idx
    y = pb.y
    row = [_code_word(code_text, 25.0, y, pi), _word(cat, 120.0, y, pi, half_w=3.0)]
    for i, v in enumerate(comp_vals):
        if v is not None:
            row.append(_word(v, COMP_CENTERS[i], y, pi))
    for i, v in enumerate(valor_vals):
        if v is not None:
            row.append(_word(v, VALOR_CENTERS[i], y, pi))
    if totais_val is not None:
        row.append(_word(totais_val, TOTAIS_CENTER, y, pi))
    pb.add(row)
    pb.y = y + 18.0


def _e2_value(rng: random.Random, lo: float, hi: float) -> str:
    return fmt_br(round(rng.uniform(lo, hi), 2))


def gen_e2_doc(seed: int, doc_id: int) -> tuple[bytes, str, str]:
    """Returns (html payload, text payload, person name) for a ficha doc."""
    h = _h(seed, doc_id, "e2")
    rng = random.Random(h)
    name = NAMES[h % len(NAMES)]
    n_years = 12 if h % 101 == 0 else 1 + h % 3   # long tail for skew
    start_year = 2019 + h % 3
    carry_doc = h % 5 == 0
    conflict_doc = h % 7 == 0
    expired_doc = h % 11 == 0

    # which codes this person has
    has_14 = h % 3 == 0
    use_205_alias = h % 4 == 0
    has_ferias = h % 2 == 0
    nbsp_952 = h % 6 == 0
    # K3 out-of-range-append trap: some docs drop the 50%-series row in
    # their last-quarter blocks, so 14-Horas100 months exist with no
    # 6-Horas coverage — when those months fall outside a requested
    # range they must be APPENDED by the cartões writer (reference
    # ficha_financeira_processor.py:1059-1065), not silently dropped.
    # Decoupled hash (has_14 ⇔ h%3==0 would pin start_year/n_years) and a
    # stretched year span so the trap months land outside typical ranges.
    skip50 = has_14 and _h(seed, doc_id, "skip50") % 2 == 0
    if skip50:
        n_years = max(n_years, 3)

    pb = _PageBuilder()
    pb.new_page(with_headers=True)

    def emit_block_rows(year: int, q: int) -> None:
        months_idx = list(range(4))
        salario_comp = [_e2_value(rng, 100, 220) for _ in months_idx]     # horas trab
        salario_valor = [_e2_value(rng, 1200, 4000) for _ in months_idx]
        insal_code = "205-Insalubridade-ACS" if use_205_alias else "8-Insalubridade"
        _code_row(pb, "1-Salario", "P",
                  salario_comp, salario_valor, _e2_value(rng, 5000, 20000))
        _code_row(pb, insal_code, "P",
                  [_e2_value(rng, 10, 30) for _ in months_idx],
                  [_e2_value(rng, 100, 700) for _ in months_idx])
        if not (skip50 and q == 2):
            _code_row(pb, "6-Horas50%", "P",
                      [_e2_value(rng, 0, 40) for _ in months_idx],
                      [_e2_value(rng, 0, 900) for _ in months_idx])
        else:
            # keep the rng stream aligned so sibling rows are unchanged
            [_e2_value(rng, 0, 40) for _ in months_idx]
            [_e2_value(rng, 0, 900) for _ in months_idx]
        if has_14:
            _code_row(pb, "14-Horas100%", "P",
                      [_e2_value(rng, 0, 20) for _ in months_idx],
                      [_e2_value(rng, 0, 500) for _ in months_idx])
        # 952 with sparse months + optional NBSP/U+2011 text form
        code_952 = "952‑Falta\xa0Injustifica" if nbsp_952 else "952-FaltaInjustifica"
        sparse = [(_e2_value(rng, 1, 30) if rng.random() < 0.4 else None)
                  for _ in months_idx]
        _code_row(pb, code_952, "D", sparse,
                  [(_e2_value(rng, 10, 300) if s is not None else None)
                   for i, s in enumerate(sparse)])
        # prefix-boundary trap: 9521 must NOT be captured as 952
        _code_row(pb, "9521-Falso", "D",
                  [_e2_value(rng, 1, 9) for _ in months_idx],
                  [None] * 4)
        if has_ferias and q == 1:
            fcode = ["167-Ferias", "168-Ferias", "173-Ferias", "174-Ferias"][h % 4]
            _code_row(pb, fcode, "P", [None] * 4,
                      [_e2_value(rng, 500, 2500), None, None, None])
            # 527-INSS row feeds the vacation adjustment (Comp + Valor columns)
            _code_row(pb, "527-INSS", "F",
                      [fmt_br(round(rng.uniform(1000, 4000), 2)), None, None, None],
                      [fmt_br(round(rng.uniform(100, 400), 2)), None, None, None])
        _code_row(pb, "3123-Base", "F", [None] * 4,
                  [_e2_value(rng, 1500, 5000) for _ in months_idx])
        pb.y += 14.0

    blocks = [(start_year + yy, q) for yy in range(n_years) for q in range(3)]
    for bi, (year, q) in enumerate(blocks):
        block_h = 16.0 + 18.0 * 9 + 14.0
        if carry_doc and bi % 3 == 2:
            # header at the bottom of this page, rows on the next page
            # (exercises center carry-forward G2 + block carry G5)
            pb.y = PAGE_H - 20.0
            _block_header(pb, year, q, with_totais=(q == 2))
            pb.new_page(with_headers=False)
            emit_block_rows(year, q)
        else:
            if pb.y + block_h > PAGE_H - 30.0:
                pb.new_page(with_headers=True)
            _block_header(pb, year, q, with_totais=(q == 2))
            emit_block_rows(year, q)

    if expired_doc:
        # header whose rows never arrive: carried MAX_BLOCK_CARRY pages, then
        # dropped with a warning (reference :508-522). Uses a year outside
        # the doc's real range so it can't collide.
        pb.y = PAGE_H - 20.0
        _block_header(pb, 1999, 0, with_totais=False)
        for _ in range(4):
            pb.new_page(with_headers=False)
            pb.add([_word("continuacao", 300.0, 30.0, pb.page_idx, half_w=30.0)])

    if conflict_doc:
        # correction page: re-issues the first block with a different
        # 1-Salario value for month 1 → last-write-wins + conflict metric
        pb.new_page(with_headers=True)
        _block_header(pb, start_year, 0, with_totais=False)
        _code_row(pb, "1-Salario", "P",
                  [_e2_value(rng, 100, 220), None, None, None],
                  [_e2_value(rng, 1200, 4000), None, None, None])

    page_texts = [
        "Prefeitura Municipal de Exemplo\n"
        f"Ficha Financeira - Folha Mensal\n"
        "Nome Matr/Contr Cargo CTPS Admissao\n"
        f"{name.title()} {1000 + doc_id}-1/1 118-Agente Comunitario",
    ] + [f"Ficha Financeira\nPagina {i + 2}" for i in range(len(pb.pages) - 1)]

    return encode_layout(PAGE_H, pb.pages), "\f".join(page_texts), name


# ---------------------------------------------------------------------------
# Corpus assembly
# ---------------------------------------------------------------------------

def gen_row(seed: int, doc_id: int) -> dict:
    kind = _h(seed, doc_id, "kind") % 13
    ts = BASE_TS + _dt.timedelta(seconds=doc_id)
    if kind == 12:  # ~8% noise docs (negative controls)
        return {
            "url": f"synth://noise/{doc_id:08d}",
            "warc_ts": ts,
            "html": b"",
            "text": "hello world\nthis page has no payroll content at all",
            "lang": "en",
        }
    if kind % 2 == 0:
        text, _name = gen_e1_doc(seed, doc_id)
        return {"url": f"synth://folha/{doc_id:08d}", "warc_ts": ts,
                "html": b"", "text": text, "lang": "pt"}
    html, text, _name = gen_e2_doc(seed, doc_id)
    return {"url": f"synth://ficha/{doc_id:08d}", "warc_ts": ts,
            "html": html, "text": text, "lang": "pt"}


PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def corpus_pandas(n_docs: int, seed: int = 42, start: int = 0):
    """Small corpora for unit tests — plain pandas DataFrame."""
    import pandas as pd

    return pd.DataFrame([gen_row(seed, i) for i in range(start, start + n_docs)])


def corpus_df(spark, n_docs: int, seed: int = 42, partitions: int | None = None):
    """Distributed corpus: spark.range → mapInPandas(gen_row).

    Scales to arbitrary n_docs with no driver materialization; each task
    generates its id-range independently (pure function of seed+id).
    """
    import pandas as pd

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield pd.DataFrame([gen_row(seed, int(i)) for i in batch["id"]])

    # floor at the core count (not a constant): a warm-up or small
    # corpus generated below cluster width leaves the Python worker
    # pool partially grown, and the first TIMED query then absorbs the
    # remaining worker forks (measured ~7 s at 32 cores in BENCH_r05)
    default_p = min(512, max(spark.sparkContext.defaultParallelism,
                             n_docs // 64 or 1))
    rng_df = spark.range(0, n_docs, 1, partitions or default_p)
    return rng_df.mapInPandas(gen, schema=PAGES_SCHEMA)


# --------------------------------------------------------------------------
# synthetic web-documents corpus (curation-pipeline benchmarks)
# --------------------------------------------------------------------------

_DOC_VOCAB_EN = ("the of and to in is that it for on was with as at by be "
                 "this data table scan filter join merge sort hash batch "
                 "stream window column row value query part key fast slow "
                 "small big line group order vector spark customer").split()
_DOC_VOCAB_PT = ("de da do que em para com uma os as dos das no na por se "
                 "dados tabela valor consulta linha coluna grupo ordem "
                 "rapido lento chave parte janela fluxo").split()

DOCUMENTS_SCHEMA = "doc_id bigint, text string, lang string"


def _doc_salad(seed: int, doc_id: int) -> tuple[str, str]:
    rng = random.Random(_h(seed, doc_id, "docsalad"))
    vocab = _DOC_VOCAB_PT if rng.random() < 0.3 else _DOC_VOCAB_EN
    lang = "pt" if vocab is _DOC_VOCAB_PT else "en"
    n = rng.randrange(10, 100)
    return " ".join(rng.choice(vocab) for _ in range(n)), lang


def doc_row(seed: int, doc_id: int) -> dict:
    """Deterministic web-document generator: word-salad text with
    planted curation work — ~2% exact duplicates of an earlier doc,
    ~2% one-token-appended near duplicates, ~2% digit-heavy junk."""
    kind = _h(seed, doc_id, "dockind") % 50
    if doc_id >= 200 and kind == 47:  # exact dup
        base = doc_id - 1 - _h(seed, doc_id, "dupof") % 199
        text, lang = _doc_salad(seed, base)
    elif doc_id >= 200 and kind == 48:  # near dup
        base = doc_id - 1 - _h(seed, doc_id, "nearof") % 199
        text, lang = _doc_salad(seed, base)
        text += " extra"
    elif kind == 49:  # low quality
        text, lang = "1 2 3 4 5 6 7 8 9", "und"
    else:
        text, lang = _doc_salad(seed, doc_id)
    return {"doc_id": doc_id, "text": text, "lang": lang}


def documents_df(spark, n_docs: int, seed: int = 42,
                 partitions: int | None = None):
    """Distributed synthetic documents table (curation benchmarks):
    spark.range → mapInPandas(doc_row), pure function of (seed, id)."""
    import pandas as pd

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            yield pd.DataFrame([doc_row(seed, int(i)) for i in batch["id"]])

    rng_df = spark.range(
        0, n_docs, 1,
        partitions or min(512, max(spark.sparkContext.defaultParallelism,
                                   n_docs // 256 or 1)))
    return rng_df.mapInPandas(gen, schema=DOCUMENTS_SCHEMA)


# ---------------------------------------------------------------------------
# Minimal-but-real PDF synthesis — the byte-stream tier's input
# ---------------------------------------------------------------------------
# The north star's extraction pipeline parses PDF object streams (xref
# tables, content-stream operators, encoding decode to Unicode;
# reference analog: pdf_processor_core.py:318-345 delegates this to
# pdfplumber — here both sides are built from scratch). The generator
# below emits real PDF files whose text is a pure function of
# (doc_id, text): words wrap into lines of PDF_WORDS_PER_LINE, lines
# paginate by PDF_LINES_PER_PAGE — a rule simple enough for a SQL
# oracle to reproduce from the raw text, which makes the
# generate→parse round trip an independently checkable identity.

PDF_WORDS_PER_LINE = 12
PDF_LINES_PER_PAGE = 4
PDF_X0, PDF_Y0, PDF_LEADING = 72.0, 720.0, 14.0


def _fnum(v: float) -> bytes:
    return (b"%d" % int(v)) if float(v).is_integer() else (b"%g" % v)


def _pdf_escape(s: bytes) -> bytes:
    return (s.replace(b"\\", b"\\\\")
             .replace(b"(", b"\\(").replace(b")", b"\\)"))


def _pdf_show(line: str, hex_form: bool) -> bytes:
    raw = line.encode("cp1252")
    if hex_form:
        return b"<" + raw.hex().encode("ascii") + b"> Tj"
    return b"(" + _pdf_escape(raw) + b") Tj"


def gen_pdf_bytes(doc_id: int, text: str) -> bytes:
    """One deterministic minimal-but-real PDF per document.

    A per-doc hash switches the low-level representation — FlateDecode
    compression, TJ kerning arrays vs plain Tj, hex vs literal strings
    (with escapes), Tm-per-line vs Td/TL/T* positioning, single vs
    split /Contents streams, a /Differences-bearing encoding dict, and
    a PDF-1.5 layout (binary xref stream + /ObjStm-packed plain
    objects, PNG-predictor-coded when compressing) — so a parser must
    implement the actual object-stream grammar (xref byte offsets,
    stream /Length resolution, filters, string escape rules,
    text-state operators), not match a fixed template. The EXTRACTED
    TEXT is invariant under every variant: that invariance is the
    correctness oracle."""
    import zlib

    h = _h(0, doc_id, "pdfvar")
    words = text.split()
    lines = [" ".join(words[i:i + PDF_WORDS_PER_LINE])
             for i in range(0, len(words), PDF_WORDS_PER_LINE)] or [""]
    pages = [lines[i:i + PDF_LINES_PER_PAGE]
             for i in range(0, len(lines), PDF_LINES_PER_PAGE)]

    compress = h % 2 == 0
    tj_array = h % 3 == 0
    hex_alt = h % 4 == 0
    split_streams = h % 5 == 0
    tm_pos = h % 7 == 0
    # PDF-1.5 layout: non-stream objects packed into a compressed
    # object stream (/ObjStm), cross-reference as a binary xref STREAM
    # (W-array rows, FlateDecode, PNG Up predictor when compressing) —
    # the layout virtually all modern / Common-Crawl PDFs use
    xref_stream = h % 13 == 0
    # hybrid-reference layout (§7.5.8.4, Acrobat compatibility): same
    # ObjStm packing, but startxref points at a CLASSIC table that
    # lists packed objects as free and carries /XRefStm in its trailer
    hybrid = h % 13 == 1
    # standard-security-handler encryption (§7.6.3) with an EMPTY user
    # password — the viewable-but-encrypted shape common in crawls.
    # RC4 V1/R2, 40-bit; classic layout (no ObjStm interplay).
    encrypt = _h(0, doc_id, "pdfenc") % 11 == 0
    if encrypt:
        xref_stream = hybrid = False
    enc_key = doc_id_bytes = b""
    if encrypt:
        import hashlib
        doc_id_bytes = hashlib.md5(b"synthid-%d" % doc_id).digest()
        owner_o = _w_rc4(
            hashlib.md5(_W_PDF_PAD).digest()[:5], _W_PDF_PAD)
        enc_p = (-1) & 0xFFFFFFFF
        enc_key = hashlib.md5(
            _W_PDF_PAD + owner_o + enc_p.to_bytes(4, "little")
            + doc_id_bytes).digest()[:5]
        enc_u = _w_rc4(enc_key, _W_PDF_PAD)

    def obj_encrypt(num: int, data: bytes) -> bytes:
        if not encrypt:
            return data
        import hashlib
        k = hashlib.md5(enc_key + num.to_bytes(3, "little")
                        + b"\x00\x00").digest()[:10]
        return _w_rc4(k, data)
    # the /Differences dict redefines bytes 164/183 (¤/·) as
    # Euro/bullet — a text containing the displaced characters cannot
    # use it (cp1252 would emit those bytes with their old meaning)
    differences = h % 11 == 0 and "¤" not in text and "·" not in text
    # composite-font variant: a /Type0 font with /Encoding /Identity-H
    # whose show strings are 2-byte CIDs, decodable ONLY through the
    # font's /ToUnicode CMap (the north star's "CMap decoding to
    # Unicode" named requirement — real non-Latin PDFs all look like
    # this). CIDs are assigned in sorted-charset order, deliberately
    # NOT equal to the code points.
    cid_font = _h(0, doc_id, "pdfcid") % 9 == 0
    cid_of: dict[str, int] = {}
    if cid_font:
        charset = sorted({c for pg in pages for ln in pg for c in ln})
        cid_of = {c: i + 1 for i, c in enumerate(charset)}

    def show_op(line: str, k: int) -> bytes:
        if cid_font:
            return (b"<" + "".join("%04x" % cid_of[c] for c in line)
                    .encode("ascii") + b"> Tj")
        return _simple_show_op(line, k)

    def _simple_show_op(line: str, k: int) -> bytes:
        hexf = hex_alt and k % 2 == 1
        if tj_array and not hexf and " " in line:
            ws = line.split(" ")
            mid = len(ws) // 2
            seg1 = (" ".join(ws[:mid]) + " ").encode("cp1252")
            seg2 = " ".join(ws[mid:]).encode("cp1252")
            return (b"[(" + _pdf_escape(seg1) + b") -250 ("
                    + _pdf_escape(seg2) + b")] TJ")
        return _pdf_show(line, hexf)

    page_streams: list[list[bytes]] = []
    for pg in pages:
        ops: list[bytes] = []
        if tm_pos:
            for k, line in enumerate(pg):
                y = PDF_Y0 - PDF_LEADING * k
                ops.append(b"BT /F1 11 Tf 1 0 0 1 " + _fnum(PDF_X0)
                           + b" " + _fnum(y) + b" Tm "
                           + show_op(line, k) + b" ET")
        else:
            ops += [b"BT", b"/F1 11 Tf", _fnum(PDF_LEADING) + b" TL",
                    _fnum(PDF_X0) + b" " + _fnum(PDF_Y0) + b" Td"]
            for k, line in enumerate(pg):
                if k:
                    ops.append(b"T*")
                ops.append(show_op(line, k))
            ops.append(b"ET")
        if split_streams and len(ops) > 2:
            # a text object MAY span two content streams — consumers
            # concatenate /Contents before tokenizing (PDF 32000-1 §7.8.2)
            mid = len(ops) // 2
            page_streams.append([b"\n".join(ops[:mid]),
                                 b"\n".join(ops[mid:])])
        else:
            page_streams.append([b"\n".join(ops)])

    font_enc = (b"<< /Type /Encoding /BaseEncoding /WinAnsiEncoding"
                b" /Differences [164 /Euro 183 /bullet] >>"
                if differences else b"/WinAnsiEncoding")
    # content-stream filter variant (independent hash slot): some docs
    # ship their streams through an ASCII filter CHAIN — the data is
    # flate-compressed then ascii-armored, so the /Filter array lists
    # the decoders in application order, as real PDFs do
    fm = _h(0, doc_id, "pdffilt") % 7

    def enc_stream(s: bytes) -> tuple[bytes, bytes]:
        if fm == 0:
            return (zlib.compress(s).hex().encode("ascii") + b">",
                    b" /Filter [/ASCIIHexDecode /FlateDecode]")
        if fm == 1:
            import base64
            return (base64.a85encode(zlib.compress(s)) + b"~>",
                    b" /Filter [/ASCII85Decode /FlateDecode]")
        if fm == 2:
            return _lzw_encode(s), b" /Filter /LZWDecode"
        if compress:
            return zlib.compress(s), b" /Filter /FlateDecode"
        return s, b""

    objs: dict[int, bytes] = {}
    next_num = 4
    stream_nums: list[list[int]] = []
    for streams in page_streams:
        nums = []
        for s in streams:
            data, filt = enc_stream(s)
            data = obj_encrypt(next_num, data)
            objs[next_num] = (b"<< /Length %d" % len(data) + filt
                              + b" >>\nstream\n" + data + b"\nendstream")
            nums.append(next_num)
            next_num += 1
        stream_nums.append(nums)
    page_nums = []
    for nums in stream_nums:
        cont = (b"%d 0 R" % nums[0] if len(nums) == 1 else
                b"[" + b" ".join(b"%d 0 R" % n for n in nums) + b"]")
        objs[next_num] = (b"<< /Type /Page /Parent 2 0 R"
                          b" /MediaBox [0 0 612 792]"
                          b" /Resources << /Font << /F1 3 0 R >> >>"
                          b" /Contents " + cont + b" >>")
        page_nums.append(next_num)
        next_num += 1
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (b"<< /Type /Pages /Count %d /Kids [" % len(pages)
               + b" ".join(b"%d 0 R" % n for n in page_nums) + b"] >>")
    objs[3] = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
               b" /Encoding " + font_enc + b" >>")
    if cid_font:
        tou_num, desc_num = next_num, next_num + 1
        next_num += 2
        data, filt = enc_stream(_to_unicode_cmap_bytes(cid_of))
        data = obj_encrypt(tou_num, data)
        objs[tou_num] = (b"<< /Length %d" % len(data) + filt
                         + b" >>\nstream\n" + data + b"\nendstream")
        objs[desc_num] = (b"<< /Type /Font /Subtype /CIDFontType2"
                          b" /BaseFont /SynthCID /CIDSystemInfo"
                          b" << /Registry (Adobe) /Ordering (Identity)"
                          b" /Supplement 0 >> >>")
        objs[3] = (b"<< /Type /Font /Subtype /Type0 /BaseFont /SynthCID"
                   b" /Encoding /Identity-H /DescendantFonts [%d 0 R]"
                   b" /ToUnicode %d 0 R >>" % (desc_num, tou_num))

    trailer_extra = b""
    if encrypt:
        enc_num = next_num
        next_num += 1
        objs[enc_num] = (b"<< /Filter /Standard /V 1 /R 2 /O <"
                         + owner_o.hex().encode("ascii") + b"> /U <"
                         + enc_u.hex().encode("ascii") + b"> /P -1 >>")
        idhex = doc_id_bytes.hex().encode("ascii")
        trailer_extra = (b" /Encrypt %d 0 R /ID [<" % enc_num
                         + idhex + b"> <" + idhex + b">]")

    if xref_stream or hybrid:
        return _assemble_pdf15(objs, next_num, compress, hybrid=hybrid)

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_off = len(out)
    maxn = max(objs)
    out += b"xref\n0 %d\n" % (maxn + 1) + b"0000000000 65535 f \n"
    for num in range(1, maxn + 1):
        out += b"%010d 00000 n \n" % offsets[num]
    out += (b"trailer\n<< /Size %d /Root 1 0 R" % (maxn + 1)
            + trailer_extra
            + b" >>\nstartxref\n%d\n%%%%EOF\n" % xref_off)
    return bytes(out)


# writer-local copies of the standard-handler pad + RC4 so the writer
# and the parser stay independent implementations of the same spec
_W_PDF_PAD = bytes.fromhex(
    "28BF4E5E4E758A4164004E56FFFA0108"
    "2E2E00B6D0683E802F0CA9FE6453697A")


def _w_rc4(key: bytes, data: bytes) -> bytes:
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


def _to_unicode_cmap_bytes(cid_of: dict[str, int]) -> bytes:
    """A real /ToUnicode CMap (§9.10.3): contiguous CID→codepoint runs
    become bfrange rows, singletons become bfchar rows, each block
    capped at the spec's 100 entries. UTF-16BE destinations."""
    items = sorted(cid_of.items(), key=lambda kv: kv[1])
    runs: list[tuple[int, int, str]] = []      # (cid_lo, cid_hi, ch_lo)
    for ch, cid in items:
        if (runs and ord(ch) <= 0xFFFF
                and cid == runs[-1][1] + 1
                and ord(ch) == ord(runs[-1][2]) + runs[-1][1]
                - runs[-1][0] + 1
                and ord(runs[-1][2]) <= 0xFFFF):
            runs[-1] = (runs[-1][0], cid, runs[-1][2])
        else:
            runs.append((cid, cid, ch))

    def u16hex(ch: str) -> bytes:
        return ch.encode("utf-16-be").hex().encode("ascii")

    bfranges = [r for r in runs if r[1] > r[0]]
    bfchars = [(r[0], r[2]) for r in runs if r[1] == r[0]]
    out = bytearray(
        b"/CIDInit /ProcSet findresource begin\n12 dict begin\n"
        b"begincmap\n/CMapName /SynthToUni def\n/CMapType 2 def\n"
        b"1 begincodespacerange\n<0000> <ffff>\nendcodespacerange\n")
    for i in range(0, len(bfchars), 100):
        chunk = bfchars[i:i + 100]
        out += b"%d beginbfchar\n" % len(chunk)
        for cid, ch in chunk:
            out += b"<%04x> <" % cid + u16hex(ch) + b">\n"
        out += b"endbfchar\n"
    for i in range(0, len(bfranges), 100):
        chunk = bfranges[i:i + 100]
        out += b"%d beginbfrange\n" % len(chunk)
        for lo, hi, ch in chunk:
            out += (b"<%04x> <%04x> <" % (lo, hi)) + u16hex(ch) + b">\n"
        out += b"endbfrange\n"
    out += (b"endcmap\nCMapName currentdict /CMap defineresource pop\n"
            b"end\nend\n")
    return bytes(out)


def _lzw_encode(data: bytes) -> bytes:
    """TIFF/PDF LZW encoder (§7.4.4, /EarlyChange 1): the writer-side
    twin of the parser's from-spec decoder — leading clear code,
    9→12-bit width bumps one entry early, EOD terminator."""
    out = bytearray()
    acc = nbits = 0
    width = 9

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table: dict[bytes, int] = {bytes([b]): b for b in range(256)}
    nxt = 258
    emit(256)                                   # clear
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        table[wc] = nxt
        nxt += 1
        # width grows when the NEXT code could overflow (EarlyChange=1)
        if nxt + 1 >= (1 << width) and width < 12:
            width += 1
        if nxt >= 4095:                         # table full: clear
            emit(256)
            table = {bytes([x]): x for x in range(256)}
            nxt = 258
            width = 9
        w = bytes([b])
    if w:
        emit(table[w])
    emit(257)                                   # EOD
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _assemble_pdf15(objs: dict[int, bytes], next_num: int,
                    compress: bool, hybrid: bool = False) -> bytes:
    """PDF-1.5 assembly: plain (non-stream) objects live inside one
    compressed object stream; the cross reference is a binary xref
    stream (W [1 4 2] rows; FlateDecode; PNG Up predictor when
    `compress`). Stream-bearing objects stay top-level, as §7.5.7
    requires.

    `hybrid` emits the §7.5.8.4 hybrid-reference shape instead:
    startxref points at a CLASSIC table whose packed objects are free
    entries and whose trailer carries /XRefStm → the xref stream."""
    import zlib

    plain = [n for n in sorted(objs) if b"\nstream\n" not in objs[n]]
    strm = [n for n in sorted(objs) if n not in set(plain)]
    objstm_num, xref_num = next_num, next_num + 1

    body = bytearray()
    pair_offs: list[tuple[int, int]] = []
    for n in plain:
        pair_offs.append((n, len(body)))
        body += objs[n] + b"\n"
    header = b" ".join(b"%d %d" % p for p in pair_offs) + b"\n"
    payload = header + bytes(body)
    pdata = zlib.compress(payload) if compress else payload
    pfilt = b" /Filter /FlateDecode" if compress else b""
    objstm = (b"<< /Type /ObjStm /N %d /First %d /Length %d%s >>"
              b"\nstream\n" % (len(plain), len(header), len(pdata), pfilt)
              + pdata + b"\nendstream")

    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in strm + [objstm_num]:
        offsets[num] = len(out)
        data = objs[num] if num != objstm_num else objstm
        out += b"%d 0 obj\n" % num + data + b"\nendobj\n"
    xref_off = len(out)
    offsets[xref_num] = xref_off

    maxn = xref_num
    plain_idx = {n: i for i, n in enumerate(plain)}
    rows = bytearray()
    for num in range(maxn + 1):
        if num == 0:
            t, f2, f3 = 0, 0, 65535
        elif num in plain_idx:
            t, f2, f3 = 2, objstm_num, plain_idx[num]
        else:
            t, f2, f3 = 1, offsets[num], 0
        rows += bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
    if compress:                       # PNG Up predictor, columns = 7
        enc = bytearray()
        prev = bytes(7)
        for r in range(0, len(rows), 7):
            row = rows[r:r + 7]
            enc += b"\x02" + bytes((row[i] - prev[i]) & 0xFF
                                   for i in range(7))
            prev = row
        xdata = zlib.compress(bytes(enc))
        parms = b" /DecodeParms << /Predictor 12 /Columns 7 >>"
    else:
        xdata = zlib.compress(bytes(rows))
        parms = b""
    out += (b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Root 1 0 R"
            b" /Filter /FlateDecode%s /Length %d >>\nstream\n"
            % (xref_num, maxn + 1, parms, len(xdata)))
    out += xdata + b"\nendstream\nendobj\n"
    if hybrid:
        # classic table: packed objects free, top-level objects real;
        # /XRefStm hands new readers the stream's type-2 entries
        classic_off = len(out)
        out += b"xref\n0 %d\n" % (maxn + 1)
        for num in range(maxn + 1):
            if num == 0 or num in plain_idx:
                out += b"0000000000 65535 f \n"
            else:
                out += b"%010d 00000 n \n" % offsets[num]
        out += (b"trailer\n<< /Size %d /Root 1 0 R /XRefStm %d >>\n"
                b"startxref\n%d\n%%%%EOF\n"
                % (maxn + 1, xref_off, classic_off))
        return bytes(out)
    out += b"startxref\n%d\n%%%%EOF\n" % xref_off
    return bytes(out)


# ---------------------------------------------------------------------------
# Engine-2 layout PDFs: render the ficha word boxes as REAL positioned
# PDF text (one Tm-placed show per word, font /Widths + /FontDescriptor
# metrics), so the parse side must recover (text, x0, x1, top, bottom,
# doctop) from byte-level font metrics — the reference's extract_words
# contract (processors/ficha_financeira_processor.py:424) — before the
# layout kernel can run. Word emission order is shuffled per page: the
# parser owns reading order, not the content stream.
# ---------------------------------------------------------------------------

_E2_ASCENT, _E2_DESCENT, _E2_GLYPH_W = 1000.0, 0.0, 500.0


def _fexact(v: float) -> bytes:
    """Shortest decimal that round-trips to exactly this double —
    what the writer emits so the parser's float() recovers the same
    value bit-for-bit."""
    s = repr(float(v))
    if s.endswith(".0"):
        s = s[:-2]
    if "e" in s or "E" in s:            # out of plain-decimal range
        s = f"{float(v):.17f}".rstrip("0").rstrip(".")
    return s.encode("ascii")


def _twin_word_x1(x0: float, n: int, size: float, tz: float) -> float:
    """Writer-side twin of the parser's advance accumulation (same
    canonical op order: glyph_w=(W*size)/1000; end=x+glyph_w*(tz/100);
    x+=(glyph_w+tc+tw)*(tz/100) with tc=tw=0) — used to verify that a
    chosen /Tz lands the word's x1 on the target double exactly."""
    scale = tz / 100.0
    gw = (_E2_GLYPH_W * size) / 1000.0
    gend = gw * scale
    adv = (gw + 0.0 + 0.0) * scale
    x = x0
    last_end = x0
    for _ in range(n):
        last_end = x + gend
        x = x + adv
    return last_end


def _nudge(v0: float, err_of) -> float:
    """Smallest |err_of(v)| reachable from v0 by ulp steps (exact hit
    returns immediately) — lands float-denominated targets despite
    decimal→binary rounding in the emitted operand."""
    import math

    best_v, best_err = v0, abs(err_of(v0))
    if best_err == 0.0:
        return v0
    for direction in (math.inf, -math.inf):
        v = v0
        for _ in range(48):
            v = math.nextafter(v, direction)
            err = abs(err_of(v))
            if err == 0.0:
                return v
            if err < best_err:
                best_v, best_err = v, err
            if err > best_err * 4:      # walking away — stop this side
                break
    return best_v


def _e2_word_ops(word: Word, height: float) -> bytes:
    """Positioned shows for one word box. Solves /Tf size from the box
    height (ascent−descent = 1000/1000 units → size = height) and /Tz
    from the target width, nudging the emitted operands so the
    parser's recovered (x0, x1, top, bottom) equal the source box
    doubles exactly. Multi-glyph words anchor the LAST glyph with its
    own Tm: a single rounding then separates the emitted x from the
    target x1, so an ulp nudge always lands it (the n-fold advance
    accumulation of a one-show word can skip representable doubles)."""
    text, x0, x1, top, bottom, _doctop = word
    size = bottom - top
    apts = (_E2_ASCENT * size) / 1000.0
    ty0 = height - top - apts
    ty = _nudge(ty0, lambda v: (height - (v + apts)) - top)
    n = len(text)
    per = ((_E2_GLYPH_W * size) / 1000.0) * 1.0
    tz0 = (x1 - x0) * 100.0 / (per * n) if per * n else 100.0
    raw = text.replace("‑", "\x7f").encode("cp1252")
    head = b"BT /F1 " + _fexact(size) + b" Tf "
    pos = b" Tz 1 0 0 1 " + _fexact(x0) + b" " + _fexact(ty) + b" Tm "
    if n <= 1:
        tz = _nudge(tz0, lambda v: _twin_word_x1(x0, n, size, v) - x1)
        return (head + _fexact(tz) + pos
                + b"(" + _pdf_escape(raw) + b") Tj ET")
    # joint (tz, x_last) search: for a fixed tz the achievable sums
    # x_last + gend step in ulps of x_last and can SKIP the target
    # double, but gend's granularity in tz is ~10× finer, so a few tz
    # ulp-steps always shift the lattice onto the target
    import math

    tzv = float(_fexact(tz0).decode())  # what the parser will read back
    cand = [tzv]
    up = dn = tzv
    for _ in range(8):
        up = math.nextafter(up, math.inf)
        dn = math.nextafter(dn, -math.inf)
        cand += [up, dn]
    tz, x_last, best_err = tzv, x1, None
    for t in cand:
        gend = ((_E2_GLYPH_W * size) / 1000.0) * (t / 100.0)
        v = _nudge(x1 - gend, lambda v: (v + gend) - x1)
        err = abs((v + gend) - x1)
        if best_err is None or err < best_err:
            tz, x_last, best_err = t, v, err
        if err == 0.0:
            break
    return (head + _fexact(tz) + pos
            + b"(" + _pdf_escape(raw[:-1]) + b") Tj 1 0 0 1 "
            + _fexact(x_last) + b" " + _fexact(ty) + b" Tm ("
            + _pdf_escape(raw[-1:]) + b") Tj ET")


def gen_e2_pdf_bytes(seed: int, doc_id: int) -> bytes:
    """Render the ficha document's word boxes (and its page-title
    text lines) as a real PDF. Pure function of (seed, doc_id); the
    per-doc hash switches compression, classic vs PDF-1.5 layout, and
    shuffles the word emission order within each page."""
    import zlib

    html, text, _name = gen_e2_doc(seed, doc_id)
    from .payload import decode_layout

    height, word_pages = decode_layout(html)
    page_texts = text.split("\f")

    h = _h(seed, doc_id, "e2pdf")
    compress = h % 2 == 0
    pdf15 = h % 5 == 0
    rng = random.Random(h)

    page_streams: list[bytes] = []
    for pi, words in enumerate(word_pages):
        ops: list[bytes] = []
        # page-title text lines (top strip, above the layout content)
        title = page_texts[pi] if pi < len(page_texts) else ""
        for k, line in enumerate(title.split("\n")):
            tl_top = 8.0 + 8.0 * k
            ty = height - tl_top - 6.0
            raw = line.replace("‑", "\x7f").encode("cp1252")
            ops.append(b"BT /F1 6 Tf 100 Tz 1 0 0 1 20 "
                       + _fexact(ty) + b" Tm (" + _pdf_escape(raw)
                       + b") Tj ET")
        order = list(words)
        rng.shuffle(order)              # reading order is the PARSER's job
        for w in order:
            ops.append(_e2_word_ops(w, height))
        page_streams.append(b"\n".join(ops))

    objs: dict[int, bytes] = {}
    next_num = 5
    page_nums = []
    for s in page_streams:
        data = zlib.compress(s) if compress else s
        filt = b" /Filter /FlateDecode" if compress else b""
        objs[next_num] = (b"<< /Length %d" % len(data) + filt
                          + b" >>\nstream\n" + data + b"\nendstream")
        objs[next_num + 1] = (
            b"<< /Type /Page /Parent 2 0 R"
            b" /MediaBox [0 0 612 " + _fexact(height) + b"]"
            b" /Resources << /Font << /F1 3 0 R >> >>"
            b" /Contents %d 0 R >>" % next_num)
        page_nums.append(next_num + 1)
        next_num += 2
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (b"<< /Type /Pages /Count %d /Kids [" % len(page_nums)
               + b" ".join(b"%d 0 R" % n for n in page_nums) + b"] >>")
    objs[3] = (b"<< /Type /Font /Subtype /Type1 /BaseFont /SynthLayout"
               b" /FirstChar 32 /LastChar 255 /Widths ["
               + b" ".join(b"500" for _ in range(224)) + b"]"
               b" /Encoding << /Type /Encoding /BaseEncoding"
               b" /WinAnsiEncoding /Differences [127 /uni2011] >>"
               b" /FontDescriptor 4 0 R >>")
    objs[4] = (b"<< /Type /FontDescriptor /FontName /SynthLayout"
               b" /Flags 32 /FontBBox [0 0 500 1000] /ItalicAngle 0"
               b" /StemV 80 /Ascent 1000 /Descent 0 /MissingWidth 500 >>")

    if pdf15:
        return _assemble_pdf15(objs, next_num, compress)
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_off = len(out)
    maxn = max(objs)
    out += b"xref\n0 %d\n" % (maxn + 1) + b"0000000000 65535 f \n"
    for num in range(1, maxn + 1):
        out += b"%010d 00000 n \n" % offsets[num]
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (maxn + 1, xref_off))
    return bytes(out)


E2_PDF_SCHEMA = "url string, pdf binary"


def e2_pdf_corpus_df(spark, n_docs: int, seed: int = 42,
                     partitions: int | None = None):
    """(url, pdf) — the corpus's ficha documents rendered as layout
    PDFs. Same doc-kind selection as `gen_row`, so the urls match the
    pages table's `synth://ficha/...` rows exactly."""
    import pandas as pd

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for i in batch["id"]:
                doc_id = int(i)
                kind = _h(seed, doc_id, "kind") % 13
                if kind == 12 or kind % 2 == 0:
                    continue            # noise / folha: no layout form
                rows.append({"url": f"synth://ficha/{doc_id:08d}",
                             "pdf": gen_e2_pdf_bytes(seed, doc_id)})
            yield pd.DataFrame(rows, columns=["url", "pdf"])

    rng_df = spark.range(
        0, n_docs, 1,
        partitions or min(512, max(8, n_docs // 64 or 1)))
    return rng_df.mapInPandas(gen, schema=E2_PDF_SCHEMA)


PDF_PAGES_SCHEMA = "doc_id bigint, pdf binary"


def pdfs_from_documents(docs, id_col: str = "doc_id",
                        text_col: str = "text"):
    """(doc_id, pdf) — render each document's text as PDF bytes.
    Arrow-batched mapInPandas, pure function of the input row; at scale
    this is the synthetic stand-in for reading `html:binary` payloads
    of content-type application/pdf from the pages table.

    The render kernel is the expensive stage, and the testdata
    documents table is a single parquet row group, so the input goes
    through the size-gated ``ops.layout.rebalance_narrow`` first —
    without it the whole render+parse tier runs on one core. At
    production input sizes the gate never fires and the tier keeps its
    zero-exchange plan."""
    import pandas as pd

    from .ops.layout import rebalance_narrow

    docs = rebalance_narrow(docs)

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf[id_col].astype("int64"),
                "pdf": [gen_pdf_bytes(int(i), t or "")
                        for i, t in zip(pdf[id_col], pdf[text_col])],
            })

    return docs.select(id_col, text_col).mapInPandas(
        gen, schema=PDF_PAGES_SCHEMA)


def main() -> None:
    import argparse

    from .session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out", required=True)
    ap.add_argument("--pdf-bytes", action="store_true",
                    help="write (url, pdf) raw PDF bytes of the corpus's "
                         "ficha documents instead of the pages table — "
                         "the input shape of jobs.py --pdf-col pdf")
    args = ap.parse_args()
    spark = get_spark("datagen")
    df = (e2_pdf_corpus_df(spark, args.n_docs, args.seed)
          if args.pdf_bytes else corpus_df(spark, args.n_docs, args.seed))
    df.write.mode("overwrite").parquet(args.out)
    print(f"wrote {args.n_docs} docs to {args.out}")


if __name__ == "__main__":
    main()
