"""Property-based parity: the Spark expression/UDF tiers and the
Engine-1 kernel must agree with the pure-Python oracle on arbitrary
generated inputs — not just the corpus's token shapes (hypothesis
drives the generators)."""

from __future__ import annotations

from decimal import Decimal

import pyarrow as pa
from hypothesis import HealthCheck, assume, example, given, settings
from hypothesis import strategies as st

from pdf_extractor_spark import oracle_ref as orc
from pdf_extractor_spark.engine1 import kernel as K
from pdf_extractor_spark.engine2 import pipeline as e2

# Brazilian-ish numeric tokens, plus adversarial shapes the reference's
# regex tokenizer can produce. ASCII digits only: hypothesis found that
# Python's \d/float() accept Unicode digits (e.g. '٠') where Java regex
# and Spark casts don't — a real fidelity boundary, but unreachable in
# the pipeline because the reference's own tokenizer only ever yields
# tokens from payroll sheets whose digit repertoire is ASCII.
token_st = st.one_of(
    st.from_regex(r"[0-9]{1,4}", fullmatch=True),
    st.from_regex(r"[0-9]{1,3}\.[0-9]{3},[0-9]{2}", fullmatch=True),
    st.from_regex(r"[0-9]{1,4},[0-9]{1,3}", fullmatch=True),
    st.from_regex(r"[0-9]{1,4}\.[0-9]{1,3}", fullmatch=True),
    st.from_regex(r"[0-9]{1,2}:[0-9]{2}", fullmatch=True),
    st.from_regex(r"[0-9]{1,2}(?:[.,:][0-9]{1,3}){1,3}", fullmatch=True),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(token_st, min_size=1, max_size=40, unique=True))
def test_convert_float_robust_parity(tokens):
    """The Engine-1 kernel's C2 token parser vs the oracle."""
    for t in tokens:
        assert K.parse_token(t) == orc.convert_to_float_robust(t), t


# ---------------------------------------------------------------------------
# Engine-1 kernel vs oracle_ref.e1_extract_doc on generated documents
# ---------------------------------------------------------------------------

_E1_CODES = ["01003601", "01003602", "01017101", "01007301", "01007302",
             "01009001", "01022001", "01003501", "01007501", "02007501",
             "09090301", "09090101"]
_e1_line_st = st.one_of(
    st.sampled_from([
        "Tipo da folha: FOLHA NORMAL", "Tipo da folha: 13 SALARIO",
        "TIPO DA FOLHA: férias", "Tipo da folha: DESCONHECIDA",
        "Referência: janeiro/2024", "Referencia: 13/2023",
        "Competência: 03/2022", "Período: xyz/2021", "Data do cálculo: "
        "05/11/2020", "13 SALÁRIO", "ADIANTAMENTO SALARIAL", "", "  ",
        "Liquido a receber ==> 1.234,56"]),
    st.builds(lambda c, toks: " ".join(["P", c, "DESCRICAO", *toks]),
              st.sampled_from(_E1_CODES),
              st.lists(st.one_of(token_st, st.just("0,00")), max_size=3)),
)
_e1_page_st = st.lists(_e1_line_st, max_size=12).map("\n".join)
_e1_doc_st = st.builds(lambda pages, tail: "\f".join(pages) + tail,
                       st.lists(_e1_page_st, min_size=1, max_size=6),
                       st.sampled_from(["", "\f", "\f\f"]))


def _page(*lines: str) -> str:
    return "\n".join(lines)


_FN = ("Tipo da folha: FOLHA NORMAL", "Referência: janeiro/2024")
_S13 = ("Tipo da folha: 13 SALARIO", "Referência: dezembro/2023")
E1_SEEDED = [
    # HH:MM on índice: a plain code, a lone sumable code, an índice rule
    _page(*_FN, "P 01009001 ADIC 07:15 10,00", "P 01007301 HORAS 06:34 9,00",
          "P 01003601 PREMIO 05:30 100,00"),
    # two tipo lines, the first unmatched; an unmatched tipo line alone
    _page("Tipo da folha: OUTRA", "Tipo da folha: FOLHA NORMAL",
          "Referência: março/2024", "P 01003501 HORAS 1,5 10,00") + "\f"
    + _page("Tipo da folha: OUTRA", "Referência: abril/2024",
            "P 01003501 HORAS 1,5 10,00"),
    # 13º with 09090301 = 0 and 09090101 != 0
    _page(*_S13, "F 09090301 SALARIO 0,00", "F 09090101 REMUNERACAO 1.234,56"),
    # trailing form feed and blank pages
    _page(*_FN, "F 09090301 SALARIO 2.000,00") + "\f\f  \f",
    # a rule code on a line with no other number
    _page(*_FN, "P 01017101 PREMIO PRO", "P 01003501 HORAS EXT"),
]


def _kernel_rows(docs: list[str]) -> list[dict]:
    batch = pa.RecordBatch.from_pydict(
        {"url": [f"u{i}" for i in range(len(docs))], "text": docs})
    return [r for out in K.kernel(iter([batch])) for r in out.to_pylist()]


def _oracle_view(i: int, doc: str) -> tuple:
    got = orc.e1_extract_doc(doc)
    vals, atts = {}, set()
    for ft in (K.FOLHA_NORMAL, K.SALARIO_13):
        for (y, m), res in got[ft].items():
            vals.update({(f"u{i}", ft, y, m, c): v
                         for c, v in res["data"].items()})
            atts.update((f"u{i}", ft, y, m, a["kind"], tuple(a["codes"]),
                         a.get("col") or a.get("desc"))
                        for a in res["attention"])
    # an empty document has no pages, so no metrics row
    met = got["metrics"]
    return vals, atts, {f"u{i}": (met["total_pages"], met["ignored"],
                                  met["no_date"])} if doc else {}


@settings(max_examples=300, deadline=None)
@given(st.lists(_e1_doc_st, min_size=1, max_size=4))
@example(E1_SEEDED)
def test_e1_kernel_matches_oracle(docs):
    want_v, want_a, want_m = {}, set(), {}
    for i, doc in enumerate(docs):
        try:
            v, a, m = _oracle_view(i, doc)
        except TypeError:
            # the reference's A3 sum raises on an 'HH,MM' operand
            # (pinned separately in test_engine1); nothing to compare
            assume(False)
        want_v.update(v)
        want_a |= a
        want_m.update(m)
    have_v, have_a, have_m = {}, set(), {}
    for r in _kernel_rows(docs):
        key = (r["url"], r["folha_type"], r["year"], r["month"])
        if r["kind"] == K.VALUE_KIND:
            have_v[(*key, r["excel_col"])] = r["txt"] if r["is_time"] else r["num"]
        elif r["kind"] == K.METRICS_KIND:
            have_m[r["url"]] = (r["total_pages"], r["ignored"], r["no_date"])
        else:
            have_a.add((*key, r["kind"], tuple(r["codes"]),
                        r["excel_col"] if r["kind"] == "soma_automatica"
                        else r["description"]))
    assert have_v == want_v
    assert have_a == want_a
    assert have_m == want_m


dec_st = st.decimals(min_value=Decimal("-99999999"),
                     max_value=Decimal("99999999"),
                     allow_nan=False, allow_infinity=False, places=None)


# Engine-2 series builder vs the writer oracles. Per-url value maps over
# the six codes the writers read, plus one code they ignore (a url with
# only that code still gets every series), months in and out of RANGE.
SERIES_CODES = ["3123-Base", "8-Insalubridade", "6-Horas", "14-Horas100",
                "1-Salario", "952-FaltaInjustifica"]
RANGE = (2019, 11), (2020, 2)
SEEDED = [
    str(Decimal(200) / Decimal(2)),   # '1E+2': A6 with no base value
    "-0", "-0.001",                   # both format as '-0'
    "0.125", "0.135",                 # HALF_EVEN ties
    str(Decimal(300) / (Decimal("2999") / Decimal(100))),  # 28-digit A6
]
url_maps_st = st.dictionaries(
    st.sampled_from(SERIES_CODES + ["173-Ferias"]),
    st.dictionaries(st.tuples(st.integers(2019, 2020), st.integers(1, 12)),
                    st.one_of(st.sampled_from(SEEDED), dec_st.map(str)),
                    max_size=4),
    min_size=1, max_size=4)
SEEDED_URLS = [{c: {(2019, 12): v, (2020, 5): v} for c in SERIES_CODES}
               for v in SEEDED]


def _writer_oracle(maps: dict, minutes_mode: bool) -> dict:
    dec = {c: {k: Decimal(v) for k, v in s.items()} for c, s in maps.items()}
    months = list(orc.iterate_months(*RANGE))
    fmt = orc.format_decimal
    want = {code: [(y, m, fmt(v), None, None, None)
                   for y, m, v in orc.zero_fill(dec.get(code, {}), months)]
            for code in ("3123-Base", "8-Insalubridade")}
    rows, inc = orc.cartoes_writer_rows(
        dec.get("6-Horas", {}), dec.get("14-Horas100", {}), months,
        minutes_mode)
    want[e2.CARTOES] = [(y, m, fmt(a), fmt(b), inc, ex)
                        for y, m, a, b, ex in rows]
    want[e2.HORAS] = [(y, m, fmt(a), fmt(b), None, ex)
                      for y, m, a, b, ex in orc.horas_writer_rows(
                          dec.get("1-Salario", {}),
                          dec.get("952-FaltaInjustifica", {}), months,
                          minutes_mode)]
    return want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(url_maps_st, min_size=1, max_size=5), st.booleans())
@example(SEEDED_URLS, False)
@example(SEEDED_URLS, True)
def test_series_builder_matches_writer_oracle(spark, urls, minutes_mode):
    rows = [(f"u{i}", code, y, m, v) for i, maps in enumerate(urls)
            for code, series in maps.items() for (y, m), v in series.items()]
    vals = spark.createDataFrame(
        rows, "url string, code string, year int, month int, value string")
    got: dict = {}
    for r in e2.build_series(vals, *RANGE, ["3123-Base", "8-Insalubridade",
                                            e2.CARTOES, e2.HORAS],
                             minutes_mode).collect():
        got.setdefault((r.url, r.series), []).append(
            (r.year, r.month, r.a, r.b, r.include_extra_100, r.is_extra))
    want = {(f"u{i}", s): sorted(v, key=repr)
            for i, maps in enumerate(urls) if any(maps.values())
            for s, v in _writer_oracle(maps, minutes_mode).items()}
    assert {k: sorted(v, key=repr) for k, v in got.items()} == want


@settings(max_examples=200, deadline=None)
@given(dec_st)
def test_minutes_conversion_oracle_involutions(value):
    """Pure-oracle properties: conversion is idempotent on >2-frac-digit
    values and sign-preserving."""
    conv = orc.convert_minutes_value(value)
    assert (conv >= 0) == (value >= 0) or value == 0
    txt = format(abs(value), "f")
    if "." in txt and len(txt.split(".")[1]) > 2:
        assert conv == value  # passthrough branch


# ---------------------------------------------------------------------------
# HTML boilerplate tokenizer: op's hand-rolled byte scanner vs the
# html.parser-driven golden twin, node-for-node, on adversarial HTML.
# ---------------------------------------------------------------------------
# Grammar notes: plain-text pieces exclude '&'/'<'/'['/'!'/'#' so the
# adversarial constructs are injected deliberately (below) instead of
# forming by accident. Two twin artifacts stay out of reach by design:
# bogus '&#'+non-digit char refs (html.parser's feed/close break
# bookkeeping makes their effect depend on how many occurred) and
# marked sections with unknown keywords (<![foo]> raises inside
# html.parser; the op degrades to a bogus comment).

_BP_TEXT = st.text(alphabet="abcdef ghij XYZ09.,:()-'\n\t", max_size=40)
_BP_TAGNAME = st.sampled_from([
    "p", "P", "div", "li", "h2", "pre", "span", "b", "a", "A", "nav",
    "footer", "aside", "script", "style", "SCRIPT", "Style", "td",
    "widget", "x-y:z",
])
_BP_LITERALS = [
    "<", ">", "</>", "<3 x", "< 5", "&amp;", "&amp ", "&amp", "&bogus;",
    "&#65;", "&#x1f;", "&", "<!DOCTYPE html>", "<![CDATA[ <p>hi</p> ]]>",
    "<![if !IE]>x<![endif]>", "<?php echo 1 ?>", "<!x>", "</ p >",
    '<a href="x>y">in link</a>', "<p a='q>r'>t</p>", '<div a="1"=>t',
    "<!-- c <p>no</p> -->", "<!-- unterminated > recovery", "<!---->",
    "<script>if(a<b){c=1}</script>", "<script>x</scriptx></script>",
    "<style>a<b{}</style>", "<script>no close",
    "<script>t</script foo=bar><p>lost</p></script>",
]
_bp_start_st = st.builds(
    lambda n, a, c: f"<{n}{a}{c}", _BP_TAGNAME,
    st.sampled_from(["", " ", ' href="u>v"', " id='i'", " data-k=v",
                     " a b=2 "]),
    st.sampled_from([">", " >", "/>", " />", ""]))
_bp_end_st = st.builds(
    lambda n, pad, c: f"</{pad}{n}{c}", _BP_TAGNAME,
    st.sampled_from(["", " "]),
    st.sampled_from([">", " >", " junk>", ""]))
_bp_doc_st = st.lists(
    st.one_of(_BP_TEXT, st.sampled_from(_BP_LITERALS), _bp_start_st,
              _bp_end_st),
    max_size=25).map("".join)


def _bp_normalize(nodes):
    out = []
    for nd in nodes:
        spans = [(s["start"], s["end"]) if isinstance(s, dict) else tuple(s)
                 for s in nd["spans"]]
        out.append((nd["idx"], nd["tag"], nd["depth"], nd["in_boiler"],
                    nd["text"], nd["n_chars"], nd["link_chars"], spans))
    return out


@settings(max_examples=600, deadline=None)
@given(_bp_doc_st)
def test_boilerplate_tokenizer_twin_parity(html):
    from pdf_extractor_spark.golden_oracle import _BpFlattener
    from pdf_extractor_spark.ops.boilerplate import _flatten_one

    op = _bp_normalize(_flatten_one(html))
    twin = _bp_normalize(_BpFlattener(html).nodes)
    assert op == twin, html
    # span fidelity: every node's spans reproduce its text verbatim
    for nd in op:
        assert "".join(html[s:e] for s, e in nd[7]) == nd[4]
