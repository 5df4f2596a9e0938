"""Salted oversized-document path must be bit-identical to the plain
(oracle-verified) kernel with A6 on — values, conflicts, expiries,
metrics — including malformed payloads, which both count as one decode
failure."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark import datagen
from pdf_extractor_spark.engine2 import pipeline as e2
from pdf_extractor_spark.engine2.kernel import (PageRunState,
                                                decode_pages_fast, run_pages)
from pdf_extractor_spark.engine2.salted import extract_ficha_salted


@pytest.fixture(scope="module")
def corpus(spark):
    # includes carry docs (headerless continuation pages), conflict docs,
    # expired-carry docs, and the 12-year long-tail docs
    pdf = datagen.corpus_pandas(160)
    return spark.createDataFrame(pdf).cache()


def _values_map(rows):
    out = {}
    for r in rows:
        out.setdefault(r.url, {})[(r.code, r.year, r.month)] = r.value
    return out


def _assert_same_output(plain, salted):
    pv = _values_map(e2.values_table(plain).collect())
    sv = _values_map(e2.values_table(salted).collect())
    assert set(pv) == set(sv)
    for url in pv:
        assert pv[url] == sv[url], url

    pm = {r.url: tuple(r) for r in e2.metrics_table(plain).collect()}
    sm = {r.url: tuple(r) for r in e2.metrics_table(salted).collect()}
    assert pm == sm


@pytest.mark.parametrize("max_pages", [5, 16])
def test_salted_equals_plain(spark, corpus, max_pages):
    _assert_same_output(
        e2.extract_ficha(corpus, adjust_vacation=True),
        extract_ficha_salted(corpus, max_pages=max_pages))


def test_corpus_has_vacation_pair_past_first_chunk(corpus):
    """A6 must be exercised across a chunk boundary: some document has
    both 527-INSS series for one month on pages outside chunk 0 at
    max_pages=5, so the salted finisher adjusts from pass-1/pass-2
    events rather than from the first chunk alone."""
    def late_pair(html):
        page_h, pages = decode_pages_fast(html)
        events, _state, _ffh = run_pages(pages, page_h, PageRunState())
        late = {}
        for kind, code, y, m, _v, gpage, _seq in events:
            if kind == "v" and code.startswith("527-INSS-") and gpage >= 5:
                late.setdefault((y, m), set()).add(code)
        return any(len(codes) == 2 for codes in late.values())

    assert any(late_pair(r.html)
               for r in corpus.select("html").collect() if r.html)


def test_malformed_payload_counted_alike(spark):
    """A truncated WBX2 payload and a JSON payload (an old format the
    codec no longer reads) are one decode failure with no value rows on
    both paths, and the metrics rows agree."""
    import json

    two_page = next(h for h in datagen.corpus_pandas(40)["html"]
                    if h and len(decode_pages_fast(h)[1]) == 2)
    bad = spark.createDataFrame(
        [("synth://bad/truncated", bytes(two_page)[:-9], "x"),
         ("synth://bad/json", json.dumps({"pages": []}).encode(), "x")],
        "url string, html binary, text string")
    plain = e2.extract_ficha(bad, adjust_vacation=True)
    salted = extract_ficha_salted(bad, max_pages=5)
    for df in (plain, salted):
        assert e2.values_table(df).count() == 0
        assert {r.url: r.decode_failures
                for r in e2.metrics_table(df).collect()} == {
            "synth://bad/truncated": 1, "synth://bad/json": 1}
    _assert_same_output(plain, salted)


def test_salted_actually_splits(spark, corpus):
    from pdf_extractor_spark.engine2.salted import split_chunks

    chunks = split_chunks(corpus.filter(F.length("html") > 0), max_pages=5)
    agg = chunks.groupBy("url").agg(F.max("n_chunks").alias("n")).collect()
    assert any(r.n > 1 for r in agg), "corpus must contain multi-chunk docs"
    # offsets tile the document exactly
    bad = (chunks.groupBy("url")
           .agg(F.sum("n_pages").alias("s"), F.max("total_pages").alias("t"))
           .filter(F.col("s") != F.col("t")).count())
    assert bad == 0


def test_split_chunks_blob_bit_identical(spark, corpus):
    """The buffer-slicing v2 chunker must emit bytes IDENTICAL to
    encode_layout over the decoded page slices (the historical
    implementation), for every chunk of every doc shape in the corpus
    (incl. zero-word pages, empty docs, carry/conflict/long docs)."""
    from pdf_extractor_spark.engine2.salted import split_chunks
    from pdf_extractor_spark.payload import decode_layout, encode_layout

    rows = corpus.select("url", "html", "text").collect()
    chunks = {(r["url"], r["salt"]): r
              for r in split_chunks(
                  corpus.select("url", "html", "text"), 5).collect()}
    n_checked = 0
    for r in rows:
        page_h, pages = decode_layout(r.html)
        n_chunks = max(1, -(-len(pages) // 5))
        for k in range(n_chunks):
            expect = encode_layout(page_h, pages[k * 5:(k + 1) * 5])
            got = chunks[(r.url, k)]
            assert bytes(got.chunk_html) == expect, (r.url, k)
            assert got.n_chunks == n_chunks and got.total_pages == len(pages)
            n_checked += 1
    assert n_checked > len(rows)  # multi-chunk docs exist in the corpus
