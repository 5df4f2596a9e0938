"""Property-based parity: the Spark expression/UDF tiers must agree
with the pure-Python oracle on arbitrary generated inputs — not just
the corpus's token shapes (hypothesis drives the generators)."""

from __future__ import annotations

from decimal import Decimal

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pdf_extractor_spark import oracle_ref as orc
from pdf_extractor_spark.engine2 import pipeline as e2
from pdf_extractor_spark.functions.brnum import to_float_robust_struct

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


@pytest.fixture(scope="module")
def spark_fn(spark):
    def run_tokens(tokens: list[str]):
        df = spark.createDataFrame([(t,) for t in tokens], "tok string")
        rows = df.select("tok", to_float_robust_struct(F.col("tok")).alias("v")) \
                 .collect()
        return {r.tok: (r.v.num, r.v.txt, r.v.is_time) for r in rows}

    return run_tokens


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(token_st, min_size=1, max_size=40, unique=True))
def test_convert_float_robust_parity(spark_fn, tokens):
    got = spark_fn(tokens)
    for t in tokens:
        want = orc.convert_to_float_robust(t)
        num, txt, is_time = got[t]
        if isinstance(want, str):        # HH:MM form
            assert is_time and txt == want, (t, want, got[t])
        elif want is None:
            assert num is None and not is_time, (t, got[t])
        else:
            assert not is_time and num == want, (t, want, got[t])


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(token_st, min_size=1, max_size=40, unique=True))
def test_token_alphabet_fast_path_parity(spark, tokens):
    """The translate-based hot path (token_alphabet=True) must agree
    with the general regex path AND the oracle on every input the
    numeric-token regex can produce (chars ⊆ [0-9.,:])."""
    df = spark.createDataFrame([(t,) for t in tokens], "tok string")
    rows = df.select(
        "tok",
        to_float_robust_struct(F.col("tok")).alias("g"),
        to_float_robust_struct(F.col("tok"), token_alphabet=True).alias("f"),
    ).collect()
    for r in rows:
        assert tuple(r.g) == tuple(r.f), (r.tok, r.g, r.f)
        want = orc.convert_to_float_robust(r.tok)
        if isinstance(want, str):
            assert r.f.is_time and r.f.txt == want
        elif want is None:
            assert r.f.num is None and not r.f.is_time
        else:
            assert not r.f.is_time and r.f.num == want


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
