"""Engine-2 dataflow: layout kernel → per-url writer rules → output series.

* A1 last-write-wins and the A6 vacation adjustment (reference
  ``ficha_financeira_processor.py:935-996``) happen inside the kernel's
  per-document call (``kernel.extract_doc``);
* the writers (``_write_*_csv``, ``:998-1119``) are one plain function,
  ``writer_rows``: per url it zero-fills the requested months (A7,
  ``:917-933``), appends the K3/K4 out-of-range rows, computes the A8
  flag, applies C6 minutes mode and formats every value (C5) with the
  Python byte-parity functions in ``functions/brnum.py``. The
  extraction job calls it per document in its one document pass
  (``docpass.py``), after picking each url's earliest capture there;
  ``build_series`` calls it per url group for the staged callers
  (``perfbench/compose.py`` and tests). The four output tables are
  projections of its rows (``series_table``).

Values travel as canonical decimal strings ('1234.56') end-to-end:
exact, order-independent, and scale-preserving (the minutes rule reads
'9.3' differently from '9.30').

Scale notes (100 TB story): the kernel stage is shuffle-free (one row
per document, mapInPandas). ``build_series`` is one hash exchange of
value rows on ``url`` feeding one applyInArrow pass; each group is
every value row of one url, so a url must carry one document's rows
(the job's document pass resolves recrawls before the writers run).
The url key is high-cardinality and nearly uniform.
"""

from __future__ import annotations

from decimal import Decimal

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.brnum import convert_minutes, format_decimal
from ..ops.layout import rebalance_narrow
from .kernel import E2_LONG_SCHEMA, METRICS_CODE, make_extract_kernel


def extract_ficha(pages_df: DataFrame,
                  adjust_vacation: bool = False) -> DataFrame:
    """pages table → long extraction rows (+ per-doc __metrics__ rows).

    Shuffle-free in the normal case: one input row per document, scan →
    mapInPandas kernel (the 100 TB plan shape — payload bytes never
    shuffle). The input goes through ``ops.layout.rebalance_narrow``,
    the narrow-input policy Engine 1 uses: one round-robin exchange
    only for an input the optimizer proves small, so a tiny local
    corpus still feeds every core. An oversized document runs in one
    task, as in the job's document pass.

    `adjust_vacation=True` applies the A6 adjustment in the kernel's
    per-document call (zero extra shuffles; byte-identical to
    oracle_ref, pinned by tests).
    """
    # the only consumer of `text` in this kernel is the person-name
    # scan, which reads the FIRST page only (reference :854-912, and
    # oracle_ref.e2_person_name does text.split("\f", 1)[0]) — truncate
    # JVM-side so the Arrow transfer ships one page of text per
    # document instead of the whole document
    df = pages_df.select(
        "url", "html",
        F.substring_index(F.col("text"), "\f", 1).alias("text"),
    ).filter(F.length("html") > 0)
    return rebalance_narrow(df).mapInPandas(
        make_extract_kernel(adjust_vacation), schema=E2_LONG_SCHEMA)


def values_table(long_df: DataFrame) -> DataFrame:
    return long_df.filter(F.col("code") != METRICS_CODE).select(
        "url", "code", "year", "month", "value"
    )


def metrics_table(long_df: DataFrame) -> DataFrame:
    return long_df.filter(F.col("code") == METRICS_CODE).select(
        "url", "pages", "decode_failures", "conflicts", "carry_expired", "person"
    )


# ---------------------------------------------------------------------------
# Output tables (writers K2/K3/K4): one grouped pass, one projection each
# ---------------------------------------------------------------------------

CARTOES, HORAS = "cartoes", "horas_trabalhadas"
# (name, Spark type, Arrow type) of every series row column
SERIES_FIELDS = [
    ("series", "string", pa.string()), ("url", "string", pa.string()),
    ("year", "int", pa.int32()), ("month", "int", pa.int32()),
    ("a", "string", pa.string()), ("b", "string", pa.string()),
    ("include_extra_100", "boolean", pa.bool_()),
    ("is_extra", "boolean", pa.bool_()),
]
SERIES_SCHEMA = ", ".join(f"{n} {t}" for n, t, _ in SERIES_FIELDS)
SERIES_COLS = [n for n, _, _ in SERIES_FIELDS]
_SERIES_ARROW = pa.schema([(n, t) for n, _, t in SERIES_FIELDS])


def writer_rows(url: str, values, series, start, end,
                minutes_mode: bool = False) -> list[tuple]:
    """One url's value rows, (code, year, month, value) tuples → its
    rows of every requested series over the (year, month) range
    `start`..`end`, in ``SERIES_COLS`` order, values formatted (C5)."""
    (y0, m0), (y1, m1) = start, end
    months = [(i // 12, i % 12 + 1)
              for i in range(y0 * 12 + m0 - 1, y1 * 12 + m1)]
    in_range = set(months)

    def conv(values: dict) -> dict:
        # C6 applies to cartões and horas only, before A8 reads them
        if not minutes_mode:
            return values
        return {k: convert_minutes(v) for k, v in values.items()}

    def fmt(v: str | None) -> str | None:
        return None if v is None else format_decimal(v)

    maps: dict[str, dict] = {}
    for code, y, m, v in values:
        maps.setdefault(code, {})[(y, m)] = v
    rows = []
    for s in series:
        if s == CARTOES:
            # K3: range months, then missing_months — 100%-keys in
            # neither the 50%-series nor the range — sorted; A8 reads
            # every 100%-value, in or out of range, exactly
            h50 = conv(maps.get("6-Horas", {}))
            h100 = conv(maps.get("14-Horas100", {}))
            inc = any(Decimal(v) != 0 for v in h100.values())
            extra = sorted(k for k in h100
                           if k not in h50 and k not in in_range)
            rows += [(s, url, y, m, fmt(h50.get((y, m), "0")),
                      fmt(h100.get((y, m), "0")), inc, ex)
                     for ex, keys in ((False, months), (True, extra))
                     for y, m in keys]
        elif s == HORAS:
            # K4: range months, then additional_months — keys of
            # either series outside the range — sorted
            h = conv(maps.get("1-Salario", {}))
            f = conv(maps.get("952-FaltaInjustifica", {}))
            extra = sorted((h.keys() | f.keys()) - in_range)
            rows += [(s, url, y, m, fmt(h.get((y, m), "0")),
                      fmt(f.get((y, m), "0")), None, ex)
                     for ex, keys in ((False, months), (True, extra))
                     for y, m in keys]
        else:
            # K2: the code's series zero-filled over the range (A7)
            vals = maps.get(s, {})
            rows += [(s, url, y, m, fmt(vals.get((y, m), "0")), None,
                      None, None)
                     for y, m in months]
    return rows


def build_series(vals: DataFrame, start, end, series,
                 minutes_mode: bool = False) -> DataFrame:
    """Every requested output series in one ``groupBy("url")`` pass.

    `series` names the tables to build: a value code for a K2 series
    ("3123-Base" = PROVENTOS, "8-Insalubridade"), `CARTOES` (K3) and
    `HORAS` (K4). Each url with at least one value row, of any code,
    gets the full month range in every series, as the reference emits
    one CSV per PDF. `minutes_mode` applies C6 to cartões and horas.
    Rows carry the SERIES_SCHEMA columns; `series_table` projects one
    series into its output table. The group is every value row of the
    url, so the input must hold one document per url; the extraction
    job builds the same rows in its document pass (``docpass.py``).
    """
    series = tuple(series)

    def per_url(key, t):
        values = zip(*(t.column(c).to_pylist()
                       for c in ("code", "year", "month", "value")))
        rows = writer_rows(key[0].as_py(), values, series, start, end,
                           minutes_mode)
        cols = list(zip(*rows)) or [()] * len(SERIES_COLS)
        return pa.Table.from_arrays(
            [pa.array(c, type=t) for c, t in zip(cols, _SERIES_ARROW.types)],
            schema=_SERIES_ARROW)

    return (vals.select("url", "code", "year", "month", "value")
            .groupBy("url").applyInArrow(per_url, schema=SERIES_SCHEMA))


def series_table(built: DataFrame, series: str) -> DataFrame:
    """One output table of `build_series`' rows (rows are unordered)."""
    rows = built.filter(F.col("series") == series)
    label = F.format_string("%02d/%04d", "month", "year")
    if series == CARTOES:
        return rows.select(
            "url", "year", "month", label.alias("periodo"),
            F.col("a").alias("hora_extra_50"),
            F.col("b").alias("hora_extra_100"),
            "include_extra_100", "is_extra")
    if series == HORAS:
        return rows.select(
            "url", "year", "month", label.alias("periodo"),
            F.col("a").alias("horas_trab"), F.col("b").alias("faltas"),
            "is_extra")
    return rows.select("url", "year", "month", label.alias("mes_ano"),
                       F.col("a").alias("valor"))


def default_series_table(vals: DataFrame, code: str, start, end) -> DataFrame:
    """K2 (PROVENTOS / ADIC. INSALUBRIDADE): zero-filled + formatted."""
    return series_table(build_series(vals, start, end, [code]), code)


def cartoes_table(vals: DataFrame, start, end, minutes_mode: bool = False) -> DataFrame:
    """K3: HORA EXTRA 50% (+ conditional 100% column per url — A8).

    Writer semantics (``_write_cartoes_csv``, reference
    ``ficha_financeira_processor.py:1035-1080``): the requested months
    zero-filled in range order, THEN — appended after the range, sorted —
    any month present in the 100%-series but in neither the 50%-series
    nor the range (``missing_months``, ``:1059-1065``). The include-100%
    flag (A8) reads ALL extracted 100%-values, in- or out-of-range
    (``:1049-1051``). ``is_extra`` marks appended rows so renderers can
    reproduce the reference row order (range rows first).
    """
    return series_table(
        build_series(vals, start, end, [CARTOES], minutes_mode), CARTOES)


def horas_trabalhadas_table(vals: DataFrame, start, end,
                            minutes_mode: bool = False) -> DataFrame:
    """K4: PERIODO;HORAS TRAB.;FALTAS (1-Salario comp column + 952).

    Writer semantics (``_write_horas_trabalhadas_csv``, reference
    ``:1082-1119``): range months zero-filled in order, then
    ``additional_months`` — any month of either series outside the range
    — appended sorted after the range (``:1094-1100``).
    """
    return series_table(
        build_series(vals, start, end, [HORAS], minutes_mode), HORAS)


# ---------------------------------------------------------------------------
# Byte-exact CSV renderers (fixture-parity; reference :998-1119)
# ---------------------------------------------------------------------------

DEFAULT_HEADER = ("MES_ANO;VALOR;FGTS;FGTS_REC.;CONTRIBUICAO_SOCIAL;"
                  "CONTRIBUICAO_SOCIAL_REC.;;;;")


def render_default_csv(rows: list[tuple[str, str]]) -> str:
    """rows = [(mes_ano, formatted_value)] ordered by (year, month)."""
    out = [DEFAULT_HEADER]
    for mes_ano, valor in rows:
        out.append(f"{mes_ano};{valor};N;N;N;N;;;;")
    return "\n".join(out) + "\n"


def render_cartoes_csv(rows: list[tuple[str, str, str]], include_extra: bool) -> str:
    header = "PERIODO;HORA EXTRA 50%" + (";HORA EXTRA 100%" if include_extra else "")
    out = [header]
    for periodo, v50, v100 in rows:
        out.append(f"{periodo};{v50};{v100}" if include_extra else f"{periodo};{v50}")
    return "\n".join(out) + "\n"


def render_horas_csv(rows: list[tuple[str, str, str]]) -> str:
    out = ["PERIODO;HORAS TRAB.;FALTAS"]
    for periodo, vh, vf in rows:
        out.append(f"{periodo};{vh};{vf}")
    return "\n".join(out) + "\n"
