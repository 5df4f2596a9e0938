"""The extraction job's document pass (`docpass.extract`) equals the
staged path it replaces: front door (`parse_pdf_layout`) → Engine 1
(`e1.extract_long`) and Engine 2 (`e2.extract_ficha(adjust_vacation=
True)`) → the series pass (`e2.build_series` over the pass's own
Engine-2 rows), row for row, over PDF bytes and over a pages table,
hostile rows included. The driver queries over the engines build on the
pass, not on the staged path."""

from __future__ import annotations

import pytest

from pdf_extractor_spark import datagen, docpass
from pdf_extractor_spark.engine1 import pipeline as e1
from pdf_extractor_spark.engine2 import pipeline as e2
from pdf_extractor_spark.ops.pdfstream import parse_pdf_layout


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


# the job's default --start / --end
PERIOD = dict(start=(2019, 1), end=(2021, 12))


def _assert_equal(staged_e1, staged_e2, long_all, start, end,
                  minutes_mode=False):
    got_e1, got_e2 = docpass.e1_long(long_all), docpass.e2_long(long_all)
    got_series = docpass.series_long(long_all)
    staged_series = e2.build_series(
        e2.values_table(got_e2), start, end, docpass.SERIES.values(),
        minutes_mode=minutes_mode)
    assert got_e1.columns == staged_e1.columns
    assert got_e2.columns == staged_e2.columns
    assert got_series.columns == staged_series.columns
    want_e1, want_e2 = _rows(staged_e1), _rows(staged_e2)
    want_series = _rows(staged_series)
    assert want_e1 and want_e2 and want_series
    assert _rows(got_e1) == want_e1
    assert _rows(got_e2) == want_e2
    assert _rows(got_series) == want_series


@pytest.fixture(scope="module")
def pdfs(spark):
    rows = []
    for i in range(40):
        r = datagen.gen_row(42, i)
        if "ficha" in r["url"]:
            rows.append((r["url"], datagen.gen_e2_pdf_bytes(42, i)))
        elif "folha" in r["url"] and len(rows) % 3 == 0:
            # folha text rendered as PDF: Engine 1 reads parsed text
            rows.append((r["url"], datagen.gen_pdf_bytes(i, r["text"])))
    whole = rows[0][1]
    rows += [("synth://bad/truncated", whole[:len(whole) // 2]),
             ("synth://bad/empty", b""), ("synth://bad/null", None)]
    return spark.createDataFrame(rows, "url string, pdf binary").cache()


def test_docpass_from_pdf_bytes_equals_staged_path(pdfs):
    pages = parse_pdf_layout(pdfs).cache()
    long_all = docpass.extract(pdfs, pdf_col="pdf", **PERIOD).cache()
    _assert_equal(e1.extract_long(pages),
                  e2.extract_ficha(pages, adjust_vacation=True), long_all,
                  **PERIOD)

    counters = _rows(docpass.doc_rows(long_all))
    assert counters == _rows(pages.select(docpass.DOC_COLS))
    assert len(counters) == pdfs.count()
    by_url = {r[0]: r[1:] for r in counters}
    assert by_url["synth://bad/empty"] == by_url["synth://bad/null"] \
        == (0, 0, 0)
    assert by_url["synth://bad/truncated"][2] > 0


def test_docpass_from_pages_table_equals_staged_path(spark):
    corpus = datagen.corpus_pandas(40)
    ficha = corpus[corpus["url"].str.contains("ficha")].index
    folha = corpus[corpus["url"].str.contains("folha")].index
    corpus.loc[ficha[0], "text"] = ""          # payload, no text
    corpus.loc[ficha[1], "text"] = None
    corpus.loc[ficha[2], "html"] = None        # text, null payload
    corpus.loc[folha[0], "text"] = None        # neither
    pages = spark.createDataFrame(corpus, datagen.PAGES_SCHEMA).cache()
    # a shorter range and minutes mode: the job's --start, --end and
    # --minutes-mode reach the series writers
    period = dict(start=(2020, 1), end=(2020, 12), minutes_mode=True)
    long_all = docpass.extract(pages, **period).cache()
    _assert_equal(e1.extract_long(pages),
                  e2.extract_ficha(pages, adjust_vacation=True), long_all,
                  **period)

    docs = _rows(docpass.doc_rows(long_all))
    assert sorted(r[0] for r in docs) == sorted(corpus["url"])
    assert {r[1:] for r in docs} == {(None, None, None)}


@pytest.mark.parametrize("name", ["extract_e2_proventos", "pdf_extract_e2",
                                  "extract_e1_values",
                                  "extract_audit_metrics"])
def test_extraction_queries_build_on_the_document_pass(spark, sf_dir,
                                                       monkeypatch, name):
    """Every staged entry point raises, and each query still builds its
    DataFrame: the staged wrappers run at plan-build time, so building
    is enough to show the query never reaches them."""
    from pdf_extractor_spark.ops import pdfstream
    from pdf_extractor_spark.queries import QUERIES

    def staged(*args, **kwargs):
        raise AssertionError("the staged path was called")

    monkeypatch.setattr(e2, "extract_ficha", staged)
    monkeypatch.setattr(e1, "extract_long", staged)
    monkeypatch.setattr(pdfstream, "parse_pdf_layout", staged)
    assert QUERIES[name](spark, sf_dir).columns
