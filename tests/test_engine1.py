"""Engine-1 parity: the per-document kernel pipeline vs the pure-Python
oracle, the REGRAS.md rule-matrix pinned cases, and per-document time
bounds on hostile pages."""

from __future__ import annotations

import time

import pyarrow as pa
import pytest

from pdf_extractor_spark import datagen, oracle_ref as orc
from pdf_extractor_spark.engine1 import kernel as K
from pdf_extractor_spark.engine1 import pipeline as e1

N_DOCS = 120


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = datagen.corpus_pandas(N_DOCS)
    return spark.createDataFrame(pdf).cache()


@pytest.fixture(scope="module")
def extracted(corpus):
    values, attention = e1.extract_folha(corpus)
    return values.collect(), attention.collect()


def _golden(n_docs: int) -> dict:
    out = {}
    for i in range(n_docs):
        r = datagen.gen_row(42, i)
        if "folha" in r["url"]:
            out[r["url"]] = orc.e1_extract_doc(r["text"])
    return out


def _norm_value(v):
    """Oracle values are float | 'HH,MM' str; Spark rows carry a struct."""
    return v


def test_values_match_oracle(extracted):
    values, _ = extracted
    golden = _golden(N_DOCS)

    got: dict = {}
    for row in values:
        v = row.value
        val = v.txt if v.is_time else v.num
        got.setdefault(row.url, {}).setdefault(row.folha_type, {}).setdefault(
            (row.year, row.month), {}
        )[row.excel_col] = val

    mismatches = []
    for url, g in golden.items():
        for ft in ("FOLHA NORMAL", "13 SALARIO"):
            want = {period: res["data"] for period, res in g[ft].items()}
            # oracle periods keyed (year, month) from (month, year) ref tuple
            want = {(p[0], p[1]): d for p, d in want.items()}
            have = got.get(url, {}).get(ft, {})
            if want != have:
                mismatches.append((url, ft, want, have))
    assert not mismatches, (
        f"{len(mismatches)} diverge; first: {mismatches[0][:2]}\n"
        f"want={mismatches[0][2]}\nhave={mismatches[0][3]}"
    )


def test_attention_match_oracle(extracted):
    _, attention = extracted
    golden = _golden(N_DOCS)

    got: dict = {}
    for row in attention:
        got.setdefault(row.url, {}).setdefault(
            (row.folha_type, row.year, row.month), set()
        ).add((row.kind, tuple(row.codes)))

    for url, g in golden.items():
        want: dict = {}
        for ft in ("FOLHA NORMAL", "13 SALARIO"):
            for (y, m), res in g[ft].items():
                atts = {(a["kind"], tuple(a["codes"])) for a in res["attention"]}
                if atts:
                    want[(ft, y, m)] = atts
        assert want == got.get(url, {}), url


def test_metrics_match_oracle(corpus):
    classified = e1.classify_pages(e1.explode_pages(corpus))
    met = {r.url: r for r in e1.page_metrics(classified).collect()
           if "folha" in r.url}
    golden = _golden(N_DOCS)
    for url, g in golden.items():
        m = met[url]
        gm = g["metrics"]
        assert m.total_pages == gm["total_pages"], url
        assert m.ignored == gm["ignored"], url
        assert m.no_date == gm["no_date"], url


def test_kernel_metrics_match_page_metrics(corpus):
    """The kernel's per-document metrics rows (the jobs' audit_e1 feed)
    equal the page-level groupBy on every document, noise included."""
    _, _, metrics = e1.split_long(e1.extract_long(corpus))
    classified = e1.classify_pages(e1.explode_pages(corpus))
    assert sorted(map(tuple, metrics.collect())) == \
        sorted(map(tuple, e1.page_metrics(classified).collect()))


def test_sum_with_time_operand():
    """The reference's A3 sum raises on an 'HH,MM' operand; the kernel
    sums the numeric operands and still flags the pair."""
    page = "\n".join([
        "Tipo da folha: FOLHA NORMAL",
        "Referência: janeiro/2025",
        "P 01007301 HORAS EXT.100%-180 06:34 803,20",
        "P 01007302 HORAS EXT.100%-180 2,50 10,00",
    ])
    with pytest.raises(TypeError):
        orc.e1_extract_page(page, "FOLHA NORMAL")
    data, attention = K.extract_page(page, "FOLHA NORMAL")
    assert data == {"Y": 2.5}
    assert attention == [("soma_automatica", "HORAS EXT.100%-180",
                          ["01007301", "01007302"], "Y")]


# Per-document wall bound for the kernel on the hostile pages below
# (each takes well under a second on a 4-core x86 host)
HOSTILE_DOC_S = 5.0


def _hostile_docs() -> list[str]:
    head = "Tipo da folha: FOLHA NORMAL Referência: março/2024 "
    runs = " ".join(f"{i * 7919 % 10**8:08d}" for i in range(222_000))
    one_line = head + runs + " 01003601 PREMIO 2,50 300,00"   # ≈2 MB
    many = "\n".join(
        ["Tipo da folha: FOLHA NORMAL", "Referência: março/2024"]
        + [f"P 01009001 ADIC {i % 97},{i % 100:02d} {i},50" if i % 1000 == 0
           else f"L {i:08d} {i % 97},{i % 100:02d} {i},50"
           for i in range(200_000)])
    return [one_line, many]


@pytest.mark.parametrize("which", ["one_2mb_line", "200k_lines"])
def test_hostile_pages_bounded(which):
    doc = _hostile_docs()[["one_2mb_line", "200k_lines"].index(which)]
    batch = pa.RecordBatch.from_pydict({"url": ["u"], "text": [doc]})
    t0 = time.perf_counter()
    rows = [r for out in K.kernel(iter([batch])) for r in out.to_pylist()]
    assert time.perf_counter() - t0 < HOSTILE_DOC_S
    want = orc.e1_extract_doc(doc)
    (period, res), = want["FOLHA NORMAL"].items()
    assert {r["excel_col"]: r["num"] for r in rows
            if r["kind"] == K.VALUE_KIND} == res["data"]
    assert {(r["kind"], tuple(r["codes"])) for r in rows
            if r["kind"] not in (K.VALUE_KIND, K.METRICS_KIND)} == \
        {(a["kind"], tuple(a["codes"])) for a in res["attention"]}
    assert all((r["year"], r["month"]) == period for r in rows
               if r["kind"] == K.VALUE_KIND)


def test_regras_pinned_cases():
    """REGRAS.md:575-658 rule matrix through the oracle (the Spark path
    is pinned to the oracle by the tests above)."""
    page = "\n".join([
        "Tipo da folha: FOLHA NORMAL",
        "Referência: janeiro/2025",
        "P 01003601 PREMIO PROD. MENSAL 2,00 300,00",
        "P 01003602 PREMIO PROD. MENSAL 3,00 200,00",
    ])
    res = orc.e1_extract_page(page, "FOLHA NORMAL")
    assert res["data"]["X"] == 5.0  # índices summed
    assert res["attention"][0]["kind"] == "soma_automatica"

    page2 = "\n".join([
        "Tipo da folha: FOLHA NORMAL",
        "Referência: janeiro/2025",
        "P 01007301 HORAS EXT.100%-180 06:34 803,20",
    ])
    res2 = orc.e1_extract_page(page2, "FOLHA NORMAL")
    assert res2["data"]["Y"] == "06,34"  # HH:MM → comma string

    page3 = "\n".join([
        "Tipo da folha: FOLHA NORMAL",
        "Referência: janeiro/2025",
        "P 01003601 PREMIO PROD. MENSAL 0,00 750,00",
    ])
    res3 = orc.e1_extract_page(page3, "FOLHA NORMAL")
    assert res3["data"]["X"] == 750.0  # índice zero → fallback to valor

    page4 = "\n".join([
        "Tipo da folha: 13 SALARIO",
        "Referência: dezembro/2024",
        "F 09090101 REMUNERACAO BRUTA 1.111,11",
        "F 09090301 SALARIO CONTRIB INSS 2.222,22",
    ])
    res4 = orc.e1_extract_page(page4, "13 SALARIO")
    assert res4["data"]["B"] == 2222.22  # 09090301 preferred

    assert orc.convert_to_float_robust("1.234,56") == 1234.56
    assert orc.convert_to_float_robust("1234.56") == 1234.56
    assert orc.convert_to_float_robust("1234,56") == 1234.56
    assert orc.convert_to_float_robust("06:34") == "06,34"
    assert orc.extract_reference_date("Referência: janeiro/2025") == (1, 2025)
    assert orc.extract_reference_date("Competência: 03/2024") == (3, 2024)
    assert orc.extract_reference_date("sem data aqui") is None
