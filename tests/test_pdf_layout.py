"""PDF bytes → word boxes → Engine-2: the reference's headline Ficha
Financeira extraction running end-to-end from real PDF bytes.

The writer (`datagen.gen_e2_pdf_bytes`) renders each ficha document's
word boxes as positioned PDF text (per-word Tm + /Widths-derived
advances, shuffled emission order) and the parser
(`ops/pdfstream.parse_pdf_layout_doc`) must recover the exact
`extract_words` tuples (text, x0, x1, top, bottom, doctop) from font
metrics alone — the reference's input contract
(processors/ficha_financeira_processor.py:424). Downstream, the full
Engine-2 pipeline over the parsed payload must be byte-identical to
the WBX2 path."""

from __future__ import annotations

from decimal import Decimal

import pytest

from pdf_extractor_spark import datagen, oracle_ref as orc
from pdf_extractor_spark.datagen import _h, gen_e2_doc, gen_e2_pdf_bytes
from pdf_extractor_spark.engine2 import pipeline as e2
from pdf_extractor_spark.ops.pdfstream import (parse_pdf_doc,
                                               parse_pdf_layout,
                                               parse_pdf_layout_doc)
from pdf_extractor_spark.payload import decode_layout, encode_layout

N_DOCS = 120  # same slice as test_engine2 — all layout variants


def _ficha_ids(n_docs: int) -> list[int]:
    out = []
    for i in range(n_docs):
        kind = _h(42, i, "kind") % 13
        if kind != 12 and kind % 2 == 1:    # gen_row's ficha selection
            out.append(i)
    return out


def test_word_boxes_roundtrip_exact():
    """Every source word box comes back bit-exact (text and all five
    doubles) from the PDF bytes — across compression/layout variants
    and shuffled in-page emission order."""
    tot = 0
    for doc_id in _ficha_ids(60):
        html, _text, _name = gen_e2_doc(42, doc_id)
        height, pages = decode_layout(html)
        parsed = parse_pdf_layout_doc(gen_e2_pdf_bytes(42, doc_id))
        assert parsed["decode_failures"] == 0
        assert parsed["height"] == height
        assert len(parsed["pages"]) == len(pages)
        for orig, (got_words, _txt) in zip(pages, parsed["pages"]):
            got = set(got_words)
            missing = [w for w in orig if tuple(w) not in got]
            assert not missing, missing[:3]
            tot += len(orig)
    assert tot > 5000


def test_oracle_twin_extraction_identical_via_pdf():
    """The pure-Python extraction twin yields the identical result
    (values, person name, conflicts, carries, page count) whether fed
    the WBX2 payload or the payload re-derived from PDF bytes — the
    extra page-title words the PDF carries are semantically inert."""
    for doc_id in _ficha_ids(60):
        html, text, _name = gen_e2_doc(42, doc_id)
        direct = orc.e2_extract_doc(html, text)
        parsed = parse_pdf_layout_doc(gen_e2_pdf_bytes(42, doc_id))
        pdf_html = encode_layout(parsed["height"],
                                 [p[0] for p in parsed["pages"]])
        pdf_text = "\f".join(p[1] for p in parsed["pages"])
        assert orc.e2_extract_doc(pdf_html, pdf_text) == direct, doc_id


@pytest.fixture(scope="module")
def pdf_corpus(spark):
    rows = [{"url": f"synth://ficha/{i:08d}",
             "pdf": gen_e2_pdf_bytes(42, i)} for i in _ficha_ids(N_DOCS)]
    return spark.createDataFrame(rows, "url string, pdf binary").cache()


@pytest.fixture(scope="module")
def wbx_long(spark):
    pages = spark.createDataFrame(datagen.corpus_pandas(N_DOCS))
    return e2.extract_ficha(pages).cache()


@pytest.fixture(scope="module")
def pdf_long(pdf_corpus):
    return e2.extract_ficha(parse_pdf_layout(pdf_corpus)).cache()


def test_e2_from_pdf_values_and_metrics_identical(wbx_long, pdf_long):
    def snap(df):
        vals = {(r.url, r.code, r.year, r.month): r.value
                for r in e2.values_table(df).collect()}
        mets = {r.url: (r.pages, r.conflicts, r.carry_expired, r.person)
                for r in e2.metrics_table(df).collect()}
        return vals, mets

    wv, wm = snap(wbx_long)
    pv, pm = snap(pdf_long)
    assert wv == pv
    assert wm == pm
    assert len(wv) > 1000


def test_e2_from_pdf_proventos_byte_identical(pdf_corpus):
    """The flagship zero-filled PROVENTOS CSV rendered from the PDF
    path (A6 in the kernel's finisher) equals the oracle's rendering of
    the source WBX2 documents byte-for-byte."""
    start, end = (2019, 1), (2022, 12)
    months = list(orc.iterate_months(start, end))

    want = {}
    for doc_id in _ficha_ids(N_DOCS):
        html, text, _name = gen_e2_doc(42, doc_id)
        g = orc.e2_extract_doc(html, text)
        if not any(g["values"].values()):
            continue  # no value rows → no url in the series table
        orc.apply_vacation_adjustments(g["values"])
        series = orc.zero_fill(g["values"].get("3123-Base", {}), months)
        want[f"synth://ficha/{doc_id:08d}"] = e2.render_default_csv(
            [(f"{m:02d}/{y:04d}", orc.format_decimal(v))
             for y, m, v in series])

    adjusted = e2.extract_ficha(parse_pdf_layout(pdf_corpus),
                                adjust_vacation=True)
    tbl = e2.default_series_table(e2.values_table(adjusted), "3123-Base",
                                  start, end)
    rows: dict[str, list] = {}
    for r in tbl.orderBy("url", "year", "month").collect():
        rows.setdefault(r.url, []).append((r.mes_ano, r.valor))
    have = {u: e2.render_default_csv(v) for u, v in rows.items()}
    assert have == want
    assert len(have) > 20


def test_e2_from_pdf_shuffle_free_plan(spark, pdf_corpus, monkeypatch):
    """bytes → word boxes → layout kernel stays scan → mapInPandas →
    mapInPandas with zero exchanges (same 100 TB shape as the text
    front door). The size gate is zeroed so the input reads as wide."""
    from pdf_extractor_spark.ops import layout

    monkeypatch.setattr(layout, "_BYTES_PER_CORE", 0)
    df = e2.extract_ficha(parse_pdf_layout(pdf_corpus))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 2
    assert "Exchange" not in plan


def _one_page_pdf(body: bytes, font_extra: bytes = b"") -> bytes:
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Count 1 /Kids [3 0 R] >>",
        3: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            b" /Resources << /Font << /F1 4 0 R >> >>"
            b" /Contents 5 0 R >>"),
        4: (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
            b" /Encoding /WinAnsiEncoding" + font_extra + b" >>"),
        5: b"<< /Length %d >>\nstream\n" % len(body) + body
           + b"\nendstream",
    }
    out = bytearray(b"%PDF-1.4\n")
    offs = {}
    for n in sorted(objs):
        offs[n] = len(out)
        out += b"%d 0 obj\n" % n + objs[n] + b"\nendobj\n"
    xo = len(out)
    top = max(objs) + 1
    out += b"xref\n0 %d\n0000000000 65535 f \n" % top
    for n in range(1, top):
        out += b"%010d 00000 n \n" % offs[n]
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n"
            b"%%%%EOF\n" % (top, xo))
    return bytes(out)


def test_out_of_order_shows_sort_by_x():
    """Same-line segments emitted right-to-left in the content stream
    must assemble in x order, not stream order."""
    body = (b"BT /F1 10 Tf 1 0 0 1 200 700 Tm (world) Tj ET\n"
            b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (hello) Tj ET")
    parsed = parse_pdf_doc(_one_page_pdf(body))
    assert parsed[0]["text"] == "hello world"


def test_kerning_gap_inserts_space():
    """A TJ kern wider than the tolerance acts as word spacing: the
    assembled text gains a space even though no space glyph exists.
    A small kern (≤ 3 pt) does not."""
    wide = b"BT /F1 10 Tf 72 700 Td [(foo) -500 (bar)] TJ ET"
    parsed = parse_pdf_doc(_one_page_pdf(wide))
    assert parsed[0]["text"] == "foo bar"      # 500/1000*10 = 5 pt gap
    narrow = b"BT /F1 10 Tf 72 700 Td [(foo) -250 (bar)] TJ ET"
    parsed = parse_pdf_doc(_one_page_pdf(narrow))
    assert parsed[0]["text"] == "foobar"       # 2.5 pt ≤ x_tolerance
    # kern after an explicit space never doubles the space
    spaced = b"BT /F1 10 Tf 72 700 Td [(foo ) -500 (bar)] TJ ET"
    parsed = parse_pdf_doc(_one_page_pdf(spaced))
    assert parsed[0]["text"] == "foo bar"


def test_inter_show_gap_inserts_space():
    """Two Tm-positioned shows on one line with a real gap between
    them read as two words."""
    body = (b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (alpha) Tj "
            b"1 0 0 1 140 700 Tm (beta) Tj ET")
    parsed = parse_pdf_doc(_one_page_pdf(body))
    assert parsed[0]["text"] == "alpha beta"


def test_widths_drive_word_boxes():
    """/Widths + /FontDescriptor metrics produce the word geometry:
    glyph advance = width/1000 × size, top/bottom from ascent/descent."""
    font_extra = (b" /FirstChar 97 /LastChar 99 /Widths [1000 500 250]"
                  b" /FontDescriptor 6 0 R")
    # abc at size 10 → advances 10, 5, 2.5 starting at x=72
    body = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (abc) Tj ET"
    objs_extra = {
        6: (b"<< /Type /FontDescriptor /FontName /T /Flags 32"
            b" /Ascent 800 /Descent -200 /MissingWidth 500 >>"),
    }
    pdf = bytearray(_one_page_pdf(body, font_extra))
    # splice descriptor object in front of xref (rebuild simpler):
    # easier: rebuild with object 6 present
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Count 1 /Kids [3 0 R] >>",
        3: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            b" /Resources << /Font << /F1 4 0 R >> >>"
            b" /Contents 5 0 R >>"),
        4: (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
            b" /Encoding /WinAnsiEncoding" + font_extra + b" >>"),
        5: b"<< /Length %d >>\nstream\n" % len(body) + body
           + b"\nendstream",
        **objs_extra,
    }
    out = bytearray(b"%PDF-1.4\n")
    offs = {}
    for n in sorted(objs):
        offs[n] = len(out)
        out += b"%d 0 obj\n" % n + objs[n] + b"\nendobj\n"
    xo = len(out)
    top = max(objs) + 1
    out += b"xref\n0 %d\n0000000000 65535 f \n" % top
    for n in range(1, top):
        out += b"%010d 00000 n \n" % offs[n]
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n"
            b"%%%%EOF\n" % (top, xo))
    parsed = parse_pdf_layout_doc(bytes(out))
    (words, text), = parsed["pages"]
    assert text == "abc"
    (w,) = words
    assert w[0] == "abc"
    assert w[1] == 72.0 and w[2] == 72.0 + 10.0 + 5.0 + 2.5
    # top = 792 - (700 + 800*10/1000) = 84; bottom = 792 - (700 - 2)
    assert w[3] == 792.0 - 708.0 and w[4] == 792.0 - 698.0


def test_person_name_from_pdf_first_page():
    """The parsed first-page text keeps the Nome/Matr header + name
    line adjacency the person-name rule needs."""
    for doc_id in _ficha_ids(40)[:8]:
        _html, text, name = gen_e2_doc(42, doc_id)
        parsed = parse_pdf_layout_doc(gen_e2_pdf_bytes(42, doc_id))
        pdf_text = "\f".join(p[1] for p in parsed["pages"])
        assert orc.e2_person_name(pdf_text) == orc.e2_person_name(text)


def test_decimal_values_survive_as_decimals(pdf_long):
    """Values parsed from PDF bytes still carry exact decimal strings
    (the scale-sensitive minutes rule depends on it)."""
    vals = e2.values_table(pdf_long).limit(50).collect()
    for r in vals:
        Decimal(r.value)  # must parse exactly; raises on drift
