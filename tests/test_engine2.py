"""Engine-2 parity: Spark layout kernel vs pure-Python oracle, plus the
pinned golden cases from the reference's own tests/fixtures."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark import datagen, docpass, oracle_ref as orc
from pdf_extractor_spark.engine2 import kernel as e2k, pipeline as e2
from pdf_extractor_spark.payload import decode_layout, encode_layout


N_DOCS = 120  # covers carry, conflict, expired, NBSP, alias, totais variants


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = datagen.corpus_pandas(N_DOCS)
    return spark.createDataFrame(pdf).cache()


@pytest.fixture(scope="module")
def long_df(corpus):
    return e2.extract_ficha(corpus).cache()


@pytest.fixture(scope="module")
def adjusted_df(corpus):
    return e2.extract_ficha(corpus, adjust_vacation=True).cache()


def _oracle_values(n_docs: int) -> dict[str, dict]:
    out = {}
    for i in range(n_docs):
        r = datagen.gen_row(42, i)
        if "ficha" not in r["url"]:
            continue
        res = orc.e2_extract_doc(r["html"], r["text"])
        out[r["url"]] = res
    return out


def test_values_match_oracle_exactly(long_df):
    golden = _oracle_values(N_DOCS)
    got = {}
    for row in e2.values_table(long_df).collect():
        got.setdefault(row.url, {}).setdefault(row.code, {})[
            (row.year, row.month)
        ] = Decimal(row.value)

    assert set(got) == {u for u, g in golden.items()
                        if any(g["values"].values())}
    mismatches = []
    for url, g in golden.items():
        want = {c: s for c, s in g["values"].items() if s}
        have = got.get(url, {})
        if want != have:
            mismatches.append((url, want, have))
    assert not mismatches, f"{len(mismatches)} docs diverge; first: {mismatches[0][0]}"


def test_metrics_match_oracle(long_df):
    golden = _oracle_values(N_DOCS)
    met = {r.url: r for r in e2.metrics_table(long_df).collect()}
    for url, g in golden.items():
        m = met[url]
        assert m.pages == g["pages"], url
        assert m.conflicts == g["conflicts"], url
        assert m.carry_expired == g["carry_expired"], url
        assert m.person == g["person_name"], url


def test_no_phantom_codes(long_df):
    codes = {r.code for r in e2.values_table(long_df).select("code").distinct().collect()}
    # 9521-Falso trap must never appear; alias 205 stored as 8-Insalubridade
    assert not any(c.startswith("9521") for c in codes)
    assert "205-Insalubridade-ACS" not in codes
    assert "8-Insalubridade" in codes


def test_vacation_adjustment_matches_oracle(adjusted_df):
    golden = _oracle_values(N_DOCS)
    for g in golden.values():
        orc.apply_vacation_adjustments(g["values"])

    adj = e2.values_table(adjusted_df)
    base = adj.filter(F.col("code") == "3123-Base").collect()
    got = {}
    for row in base:
        got.setdefault(row.url, {})[(row.year, row.month)] = Decimal(row.value)
    for url, g in golden.items():
        want = g["values"].get("3123-Base", {})
        have = got.get(url, {})
        assert set(want) == set(have), url
        for k, wv in want.items():
            # byte-parity at output granularity: formatted 2-dp equality
            assert orc.format_decimal(wv) == orc.format_decimal(have[k]), (url, k)


def test_proventos_series_byte_identical(adjusted_df, spark):
    """Flagship slice (SURVEY §7.1): zero-filled formatted PROVENTOS
    series matches the oracle byte-for-byte."""
    golden = _oracle_values(N_DOCS)
    for g in golden.values():
        orc.apply_vacation_adjustments(g["values"])
    start, end = (2019, 1), (2022, 12)

    tbl = e2.default_series_table(e2.values_table(adjusted_df), "3123-Base",
                                  start, end)
    rows = tbl.orderBy("url", "year", "month").collect()
    got_csv: dict[str, list] = {}
    for r in rows:
        got_csv.setdefault(r.url, []).append((r.mes_ano, r.valor))

    n_checked = 0
    for url, g in golden.items():
        series = orc.zero_fill(g["values"].get("3123-Base", {}),
                               list(orc.iterate_months(start, end)))
        want = e2.render_default_csv(
            [(f"{m:02d}/{y:04d}", orc.format_decimal(v)) for y, m, v in series])
        have = e2.render_default_csv(got_csv[url])
        assert want == have, url
        n_checked += 1
    assert n_checked > 20


@pytest.mark.parametrize(
    "ws", ["\n", "\r", "\x0b", "\x0c", "\x1c", "\x1d", "\x1e", "\x1f"],
    ids=lambda c: f"U+{ord(c):04X}")
def test_code_normalization_strips_all_whitespace(ws):
    """Code matching strips every whitespace character, as
    `oracle_ref._norm_code` does, not only spaces and tabs: with `ws`
    put before each code word (a WinAnsi show string such as
    `(\\013952) Tj` puts one inside a word), the kernel extracts what
    the oracle extracts."""
    prefixes = tuple(orc._norm_code(p) for _c, _col, p, _a in e2k.TARGET_CODES)
    n_docs = n_values = 0
    for i in range(60):
        r = datagen.gen_row(42, i)
        if "ficha" not in r["url"]:
            continue
        page_h, pages = decode_layout(r["html"])
        pages = [[(ws + w[0], *w[1:])
                  if orc._norm_code(w[0]).startswith(prefixes) else w
                  for w in words] for words in pages]
        html = encode_layout(page_h, pages)
        want = orc.e2_extract_doc(html, r["text"])["values"]
        rows, _metrics = e2k.extract_doc(r["url"], html, r["text"])
        got: dict = {}
        for _u, code, y, m, vs, *_ in rows:
            got.setdefault(code, {})[(y, m)] = Decimal(vs)
        assert got == {c: s for c, s in want.items() if s}, r["url"]
        n_docs += 1
        n_values += sum(len(s) for s in want.values())
    assert n_docs == 25 and n_values > 0


def test_pinned_golden_values():
    """Reference tests/test_ficha_financeira_processor.py:9-39 +
    FIXTURES.md §5 pinned values."""
    values = {
        "174-Ferias": {(2024, 1): Decimal("2000")},
        "527-INSS-Comp": {(2024, 1): Decimal("3000")},
        "527-INSS-Valor": {(2024, 1): Decimal("300")},
    }
    orc.apply_vacation_adjustments(values)
    assert values["3123-Base"][(2024, 1)] == Decimal("10")

    values2 = {
        "167-Ferias": {(2024, 2): Decimal("0")},
        "527-INSS-Comp": {(2024, 2): Decimal("3000")},
        "527-INSS-Valor": {(2024, 2): Decimal("300")},
    }
    orc.apply_vacation_adjustments(values2)
    assert values2["3123-Base"][(2024, 2)] == Decimal("10")

    assert orc.format_decimal(Decimal("1963.30")) == "1963,3"
    assert orc.format_decimal(Decimal("190.80")) == "190,8"
    assert orc.format_decimal(Decimal("0")) == "0"
    assert orc.format_decimal(Decimal("0.004")) == "0"

    assert orc.convert_minutes_value(Decimal("9.30")) == Decimal("9.5")
    assert orc.convert_minutes_value(Decimal("9.3")) == Decimal("9.05")
    assert orc.convert_minutes_value(Decimal("-1.30")) == Decimal("-1.5")
    assert orc.convert_minutes_value(Decimal("9.305")) == Decimal("9.305")


def test_cartoes_writer_byte_identical(long_df):
    """K3 writer parity incl. the out-of-range month append
    (reference :1059-1065): months in the 100%-series but in neither the
    50%-series nor the requested range are appended sorted after the
    range. The narrow range guarantees planted out-of-range blocks."""
    golden = _oracle_values(N_DOCS)
    start, end = (2019, 1), (2020, 12)
    months = list(orc.iterate_months(start, end))
    tbl = e2.cartoes_table(e2.values_table(long_df), start, end)
    got: dict[str, list] = {}
    for r in tbl.collect():
        got.setdefault(r.url, []).append(r)

    n_extra = 0
    for url, g in golden.items():
        if not any(g["values"].values()):
            continue
        want_rows, include = orc.cartoes_writer_rows(
            g["values"].get("6-Horas", {}), g["values"].get("14-Horas100", {}),
            months)
        want = e2.render_cartoes_csv(
            [(f"{m:02d}/{y:04d}", orc.format_decimal(v50),
              orc.format_decimal(v100))
             for y, m, v50, v100, _ in want_rows], include)
        have_rows = sorted(got[url], key=lambda r: (r.is_extra, r.year, r.month))
        assert all(r.include_extra_100 == include for r in have_rows), url
        have = e2.render_cartoes_csv(
            [(r.periodo, r.hora_extra_50, r.hora_extra_100)
             for r in have_rows], include)
        assert want == have, url
        n_extra += sum(1 for *_, ex in want_rows if ex)
    assert n_extra > 0, "corpus must exercise the append path"


def test_horas_writer_byte_identical(long_df):
    """K4 writer parity incl. additional_months append (:1094-1100)."""
    golden = _oracle_values(N_DOCS)
    start, end = (2019, 1), (2020, 12)
    months = list(orc.iterate_months(start, end))
    tbl = e2.horas_trabalhadas_table(e2.values_table(long_df), start, end)
    got: dict[str, list] = {}
    for r in tbl.collect():
        got.setdefault(r.url, []).append(r)

    n_extra = 0
    for url, g in golden.items():
        if not any(g["values"].values()):
            continue
        want_rows = orc.horas_writer_rows(
            g["values"].get("1-Salario", {}),
            g["values"].get("952-FaltaInjustifica", {}), months)
        want = e2.render_horas_csv(
            [(f"{m:02d}/{y:04d}", orc.format_decimal(vh), orc.format_decimal(vf))
             for y, m, vh, vf, _ in want_rows])
        have_rows = sorted(got[url], key=lambda r: (r.is_extra, r.year, r.month))
        have = e2.render_horas_csv(
            [(r.periodo, r.horas_trab, r.faltas) for r in have_rows])
        assert want == have, url
        n_extra += sum(1 for *_, ex in want_rows if ex)
    assert n_extra > 0, "corpus must exercise the append path"


def test_minutes_mode_spark_matches_oracle(long_df):
    start, end = (2019, 1), (2021, 12)
    tbl = e2.cartoes_table(e2.values_table(long_df), start, end, minutes_mode=True)
    golden = _oracle_values(N_DOCS)
    got = {(r.url, r.year, r.month): (r.hora_extra_50, r.hora_extra_100)
           for r in tbl.collect()}
    months = list(orc.iterate_months(start, end))
    for url, g in golden.items():
        s50 = orc.zero_fill(g["values"].get("6-Horas", {}), months)
        s100 = orc.zero_fill(g["values"].get("14-Horas100", {}), months)
        for (y, m, v), (_, _, v100) in zip(s50, s100):
            want = (orc.format_decimal(orc.convert_minutes_value(v)),
                    orc.format_decimal(orc.convert_minutes_value(v100)))
            assert got[(url, y, m)] == want, (url, y, m)


def test_a8_flag_reads_values_exactly(spark):
    """A8 compares each 100%-value with zero exactly, as oracle_ref
    does: a value below any fixed decimal scale still turns the column
    on, and a url with no 100%-values gets False, never null."""
    vals = spark.createDataFrame(
        [("u1", "14-Horas100", 2019, 1, "0.0000001"),
         ("u2", "6-Horas", 2019, 1, "8")],
        "url string, code string, year int, month int, value string")
    start, end = (2019, 1), (2019, 2)
    months = list(orc.iterate_months(start, end))
    _, want = orc.cartoes_writer_rows({}, {(2019, 1): Decimal("0.0000001")},
                                      months)
    assert want is True
    got = {}
    for r in e2.cartoes_table(vals, start, end).collect():
        got.setdefault(r.url, set()).add(r.include_extra_100)
    assert got == {"u1": {True}, "u2": {False}}


@pytest.mark.parametrize("entry", [
    lambda df: e2.extract_ficha(df, adjust_vacation=True),
    lambda df: docpass.e2_long(docpass.extract(df, (2019, 1), (2021, 12))),
], ids=["extract_ficha", "docpass"])
def test_malformed_payload_is_one_decode_failure(spark, entry):
    """A truncated WBX2 payload and a JSON payload (an old format the
    codec no longer reads) each give one decode failure and no value
    rows, through both Spark entries to the kernel."""
    import json

    two_page = next(h for h in datagen.corpus_pandas(40)["html"]
                    if h and len(decode_layout(h)[1]) == 2)
    bad = spark.createDataFrame(
        [("synth://bad/truncated", bytes(two_page)[:-9], "x"),
         ("synth://bad/json", json.dumps({"pages": []}).encode(), "x")],
        "url string, html binary, text string")
    long_df = entry(bad)
    assert e2.values_table(long_df).count() == 0
    assert {r.url: r.decode_failures
            for r in e2.metrics_table(long_df).collect()} == {
        "synth://bad/truncated": 1, "synth://bad/json": 1}
