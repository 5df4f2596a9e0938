"""PDF object-stream tier: writer↔parser round trip, adversarial
grammar pins, and the shuffle-free plan contract.

The correctness model is the generate→parse identity: the writer's
pagination rule (12 words/line, 4 lines/page) is a pure function of
the raw text, so extracted text must be byte-identical to the rule's
output regardless of which representation variants (compression, TJ
arrays, hex strings, Tm positioning, split streams, Differences
encodings) the per-doc hash selected — the same invariance the driver
row `pdf_parse_pages` checks against a DuckDB oracle that never sees
PDF bytes."""

import re

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from pdf_extractor_spark.datagen import (PDF_LINES_PER_PAGE,
                                         PDF_WORDS_PER_LINE, doc_row,
                                         gen_pdf_bytes)
from pdf_extractor_spark.ops.pdfstream import _extract_page, parse_pdf_doc


def _expected_pages(text: str) -> list[str]:
    ws = text.split()
    lines = [" ".join(ws[i:i + PDF_WORDS_PER_LINE])
             for i in range(0, len(ws), PDF_WORDS_PER_LINE)] or [""]
    return ["\n".join(lines[i:i + PDF_LINES_PER_PAGE])
            for i in range(0, len(lines), PDF_LINES_PER_PAGE)]


def _assert_roundtrip(doc_id: int, text: str) -> None:
    parsed = parse_pdf_doc(gen_pdf_bytes(doc_id, text))
    assert [p["text"] for p in parsed] == _expected_pages(text)
    assert [p["page_idx"] for p in parsed] == list(range(len(parsed)))
    assert sum(p["decode_failures"] for p in parsed) == 0


def test_roundtrip_corpus_slice():
    """doc_ids 0..199 cover every variant combination of the per-doc
    hash (compress × tj_array × hex × split × tm × differences)."""
    for doc_id in range(200):
        _assert_roundtrip(doc_id, doc_row(42, doc_id)["text"])


def test_roundtrip_special_chars():
    # parens/backslashes exercise literal-string escaping; cp1252
    # accents exercise WinAnsi decode
    for doc_id in range(12):   # every writer variant again
        _assert_roundtrip(
            doc_id,
            "par(en) close) back\\slash open( fim ação coração à é ç")


def test_roundtrip_single_word_and_exact_boundaries():
    for doc_id in (0, 3, 4, 6, 7):
        _assert_roundtrip(doc_id, "word")
        _assert_roundtrip(doc_id, " ".join(f"w{i}" for i in range(12)))
        _assert_roundtrip(doc_id, " ".join(f"w{i}" for i in range(48)))
        _assert_roundtrip(doc_id, " ".join(f"w{i}" for i in range(49)))


@settings(max_examples=200, deadline=None)
@given(st.integers(0, 10 ** 6),
       st.lists(st.text(
           st.characters(min_codepoint=33, max_codepoint=255,
                         exclude_characters="".join(
                             chr(c) for c in range(0x7F, 0xA0))),
           min_size=1, max_size=12), min_size=1, max_size=60))
def test_roundtrip_fuzz(doc_id, words):
    """Any cp1252-encodable word sequence survives the round trip
    under whichever representation variant doc_id selects (codepoints
    U+007F–U+009F excluded: not cp1252-encodable)."""
    _assert_roundtrip(doc_id, " ".join(words))


def test_broken_xref_falls_back_to_scan():
    pdf = gen_pdf_bytes(7, "alpha beta gamma delta")
    corrupt = re.sub(rb"startxref\n\d+", b"startxref\n999999", pdf)
    parsed = parse_pdf_doc(corrupt)
    assert [p["text"] for p in parsed] == _expected_pages(
        "alpha beta gamma delta")


def test_garbage_and_empty_inputs():
    assert parse_pdf_doc(b"") == []
    bad = parse_pdf_doc(b"this is not a pdf")
    assert len(bad) == 1 and bad[0]["decode_failures"] == 1


def _pdf15_doc_ids(want_compress: bool, n: int = 2) -> list[int]:
    """doc_ids whose per-doc hash selects the PDF-1.5 layout, split by
    the compress flag (predictor-coded xref stream vs plain rows)."""
    from pdf_extractor_spark.datagen import _h

    out = []
    for doc_id in range(3000):
        h = _h(0, doc_id, "pdfvar")
        if (h % 13 == 0 and (h % 2 == 0) == want_compress
                and _h(0, doc_id, "pdfenc") % 11 != 0):
            # encryption forces the classic layout, so exclude it here
            out.append(doc_id)
            if len(out) == n:
                break
    return out


def test_pdf15_xref_stream_roundtrip():
    """PDF-1.5 layout (xref STREAM + /ObjStm-packed plain objects):
    both the predictor-coded and plain-row xref variants parse to the
    same extracted text, via the real type-2 entries, not the
    brute-force fallback."""
    from pdf_extractor_spark.ops.pdfstream import _Doc

    for want_compress in (True, False):
        ids = _pdf15_doc_ids(want_compress)
        assert ids, "datagen never selected the 1.5 layout"
        for doc_id in ids:
            text = doc_row(42, doc_id)["text"]
            pdf = gen_pdf_bytes(doc_id, text)
            assert pdf.startswith(b"%PDF-1.5")
            assert b"/Type /XRef" in pdf and b"/ObjStm" in pdf
            assert b"trailer" not in pdf
            d = _Doc(pdf)
            # the xref stream really resolved: compressed (type-2)
            # entries exist and include the catalog
            assert d.compressed
            root = d.trailer.get("Root")
            assert root is not None and root.num in d.compressed
            _assert_roundtrip(doc_id, text)


def test_hybrid_reference_xrefstm():
    """Hybrid-reference layout (§7.5.8.4): startxref → classic table
    whose ObjStm-packed objects are FREE entries, trailer /XRefStm →
    xref stream with the real type-2 entries. Both a spec reader (via
    XRefStm) and the text must resolve."""
    from pdf_extractor_spark.datagen import _h
    from pdf_extractor_spark.ops.pdfstream import _Doc

    ids = [i for i in range(3000)
           if _h(0, i, "pdfvar") % 13 == 1
           and _h(0, i, "pdfenc") % 11 != 0][:3]
    assert ids
    for doc_id in ids:
        text = doc_row(42, doc_id)["text"]
        pdf = gen_pdf_bytes(doc_id, text)
        assert (b"/XRefStm" in pdf and b"trailer" in pdf
                and b"/ObjStm" in pdf)
        d = _Doc(pdf)
        assert d.compressed          # resolved through the XRefStm
        root = d.trailer.get("Root")
        assert root is not None and root.num in d.compressed
        _assert_roundtrip(doc_id, text)


def test_incremental_update_prev_chain():
    """A PDF with an appended incremental update: the new xref section
    points at the old one via /Prev; the NEWEST definition of an
    object wins (here: page content replaced by the update)."""
    base = _minimal_pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Count 1 /Kids [3 0 R] >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: (b"<< /Length 38 >>\nstream\n"
            b"BT /F1 11 Tf 72 720 Td (old) Tj ET\nendstream"),
    })
    old_xref = int(re.search(rb"startxref\n(\d+)", base).group(1))
    out = bytearray(base)
    new4 = len(out)
    body = b"BT /F1 11 Tf 72 720 Td (new) Tj ET"
    out += (b"4 0 obj\n<< /Length %d >>\nstream\n" % len(body)
            + body + b"\nendstream\nendobj\n")
    xo = len(out)
    out += (b"xref\n4 1\n%010d 00000 n \ntrailer\n"
            b"<< /Size 5 /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n"
            % (new4, old_xref, xo))
    parsed = parse_pdf_doc(bytes(out))
    assert [p["text"] for p in parsed] == ["new"]


def test_pdf15_broken_xref_recovers_objstm_objects():
    """Corrupting startxref on a 1.5 file forces the brute-force scan,
    which must open /ObjStm containers to find the catalog (it is not
    a top-level object in this layout)."""
    doc_id = _pdf15_doc_ids(True, 1)[0]
    text = doc_row(42, doc_id)["text"]
    pdf = gen_pdf_bytes(doc_id, text)
    corrupt = re.sub(rb"startxref\n\d+", b"startxref\n999999", pdf)
    assert [p["text"] for p in parse_pdf_doc(corrupt)] \
        == _expected_pages(text)


def _minimal_pdf(objs: dict[int, bytes]) -> bytes:
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
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (top, xo))
    return bytes(out)


def test_differences_decode_and_indirect_length():
    """Bytes remapped by /Differences decode through the glyph map;
    /Length held in a separate indirect object resolves through the
    xref."""
    body = b"BT /F1 11 Tf 72 720 Td (cost \\244 and \\267 mark) Tj ET"
    pdf = _minimal_pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Count 1 /Kids [4 0 R] >>",
        3: (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
            b" /Encoding << /Type /Encoding /BaseEncoding"
            b" /WinAnsiEncoding /Differences [164 /Euro 183 /bullet]"
            b" >> >>"),
        4: (b"<< /Type /Page /Parent 2 0 R /Resources"
            b" << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>"),
        5: b"<< /Length 6 0 R >>\nstream\n" + body + b"\nendstream",
        6: b"%d" % len(body),
    })
    parsed = parse_pdf_doc(pdf)
    assert parsed[0]["text"] == "cost € and • mark"
    assert parsed[0]["decode_failures"] == 0


def test_nested_page_tree():
    """/Kids may nest intermediate /Pages nodes; traversal must flatten
    them in document order."""
    mk = (b"BT /F1 11 Tf 72 720 Td (%s) Tj ET")
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Count 2 /Kids [7 0 R 4 0 R] >>",
        7: b"<< /Type /Pages /Count 1 /Kids [3 0 R] /Parent 2 0 R >>",
        3: (b"<< /Type /Page /Parent 7 0 R /Contents 5 0 R >>"),
        4: (b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>"),
        5: (b"<< /Length %d >>\nstream\n" % len(mk % b"first")
            + mk % b"first" + b"\nendstream"),
        6: (b"<< /Length %d >>\nstream\n" % len(mk % b"second")
            + mk % b"second" + b"\nendstream"),
    }
    parsed = parse_pdf_doc(_minimal_pdf(objs))
    assert [p["text"] for p in parsed] == ["first", "second"]


def test_pdf_parse_shuffle_free_plan(spark, sf_dir, monkeypatch):
    """render → parse is scan → mapInPandas → mapInPandas with no
    KEYED exchange anywhere — the tier is embarrassingly parallel. At
    production input sizes the plan has no exchange at all (pinned by
    zeroing the size gate, so the input reads as wide); on the
    single-row-group testdata a round-robin rebalance of the small
    scan is allowed so the kernels run at full width."""
    from pdf_extractor_spark.datagen import pdfs_from_documents
    from pdf_extractor_spark.ops import layout
    from pdf_extractor_spark.ops.pdfstream import parse_pdf_pages

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = parse_pdf_pages(pdfs_from_documents(docs))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 2
    assert "Exchange hashpartitioning" not in plan
    monkeypatch.setattr(layout, "_BYTES_PER_CORE", 0)
    wide = parse_pdf_pages(pdfs_from_documents(docs))
    plan_wide = wide._jdf.queryExecution().executedPlan().toString()
    assert plan_wide.count("MapInPandas") == 2
    assert "Exchange" not in plan_wide


def test_pdf_parse_pages_dataframe(spark, sf_dir):
    from pdf_extractor_spark.datagen import pdfs_from_documents
    from pdf_extractor_spark.ops.pdfstream import parse_pdf_pages

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = (parse_pdf_pages(pdfs_from_documents(docs))
           .orderBy("doc_id", "page_idx").collect())
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text")
             .collect()}
    assert got, "no pages parsed"
    by_doc: dict[int, list] = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(texts)
    for doc_id, rows in by_doc.items():
        assert [r.text for r in rows] == _expected_pages(texts[doc_id])
        assert all(r.decode_failures == 0 for r in rows)


def test_pdf_tier_curation_invariant(spark, sf_dir):
    """Composing render → parse → reassemble in front of the curation
    stack must keep exactly the docs that curating the raw text keeps:
    every gate is whitespace-normalized, and the round trip only
    rewrites whitespace (words → lines → pages)."""
    from pdf_extractor_spark.datagen import pdfs_from_documents
    from pdf_extractor_spark.ops.curate import (curate_corpus,
                                                extract_pdf_text)

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    direct = {(r.doc_id, r.lang_pred, r.n_tokens)
              for r in curate_corpus(docs).collect()}
    via_pdf = {(r.doc_id, r.lang_pred, r.n_tokens)
               for r in curate_corpus(
                   extract_pdf_text(pdfs_from_documents(docs))).collect()}
    assert direct == via_pdf and direct


def test_inline_image_skipped():
    """BI…ID…EI inline-image data (which may contain bytes that look
    like operators or strings) must not disturb the text state
    machine: text before and after the image both survive."""
    body = (b"BT /F1 11 Tf 72 720 Td (before) Tj ET\n"
            b"BI /W 4 /H 4 /BPC 8 /CS /G ID "
            b"\x00\x28garbage(Tj)\xff)\x01 ET BT\nEI\n"
            b"BT /F1 11 Tf 72 700 Td (after) Tj ET")
    pdf = _minimal_pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Count 1 /Kids [3 0 R] >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: b"<< /Length %d >>\nstream\n" % len(body) + body
           + b"\nendstream",
    })
    parsed = parse_pdf_doc(pdf)
    assert [p["text"] for p in parsed] == ["before\nafter"]
    assert parsed[0]["decode_failures"] == 0


def test_ascii_filter_chains_roundtrip():
    """Streams shipped through [/ASCIIHexDecode /FlateDecode] and
    [/ASCII85Decode /FlateDecode] chains (decode order = array order)
    round-trip byte-identically; RunLengthDecode pinned on spec
    vectors."""
    from pdf_extractor_spark.datagen import _h
    from pdf_extractor_spark.ops.pdfstream import (_ascii85_decode,
                                                   _run_length_decode)

    for want_fm, marker in ((0, b"/ASCIIHexDecode"),
                            (1, b"/ASCII85Decode")):
        ids = [i for i in range(2000)
               if _h(0, i, "pdffilt") % 7 == want_fm][:3]
        assert ids
        for doc_id in ids:
            text = doc_row(42, doc_id)["text"]
            assert marker in gen_pdf_bytes(doc_id, text)
            _assert_roundtrip(doc_id, text)
    # spec vectors
    assert _run_length_decode(b"\x03abcX\xfeZ\x80tail") == b"abcX" + b"Z" * 3
    assert _ascii85_decode(b"z~>") == b"\x00\x00\x00\x00"
    import base64
    payload = b"The quick brown fox."
    assert _ascii85_decode(base64.a85encode(payload) + b"~>") == payload


def test_lzw_decode_roundtrip_and_spec_vector():
    """LZWDecode: the PDF 32000-1 §7.4.4 worked example decodes to its
    plaintext, and encoder↔decoder round-trips survive code-width
    growth (9→12 bits) and a table clear."""
    import random

    from pdf_extractor_spark.datagen import _h, _lzw_encode
    from pdf_extractor_spark.ops.pdfstream import _lzw_decode

    assert _lzw_decode(bytes.fromhex("800B6050220C0C8501")) \
        == b"-----A---B"
    rng = random.Random(7)
    for payload in (b"", b"A", b"-----A---B",
                    bytes(rng.randrange(256) for _ in range(5000)),
                    b"the quick brown fox " * 600,
                    bytes(rng.randrange(4) for _ in range(30000))):
        assert _lzw_decode(_lzw_encode(payload)) == payload
    ids = [i for i in range(2000) if _h(0, i, "pdffilt") % 7 == 2][:3]
    assert ids
    for doc_id in ids:
        text = doc_row(42, doc_id)["text"]
        assert b"/LZWDecode" in gen_pdf_bytes(doc_id, text)
        _assert_roundtrip(doc_id, text)


def test_type0_cid_font_tounicode_cmap():
    """Composite /Type0 fonts: 2-byte CID show strings decodable only
    through the font's /ToUnicode CMap (bfchar + bfrange, UTF-16BE
    destinations, CIDs deliberately ≠ code points)."""
    from pdf_extractor_spark.datagen import _h
    from pdf_extractor_spark.ops.pdfstream import _Doc

    ids = [i for i in range(3000)
           if _h(0, i, "pdfcid") % 9 == 0][:4]
    assert ids
    for doc_id in ids:
        text = doc_row(42, doc_id)["text"]
        pdf = gen_pdf_bytes(doc_id, text)
        d = _Doc(pdf)
        enc = next(f.cmap for f in d.page_fonts(d.pages()[0]).values()
                   if f.cid)
        assert isinstance(enc, dict) and enc        # CMap decoder
        # CIDs are charset ranks, not code points
        assert any(cid != ord(ch) for cid, ch in enc.items())
        _assert_roundtrip(doc_id, text)
    # accented text exercises multi-rank runs + bfchar singletons
    _assert_roundtrip(ids[0], "ação é coração válida ñ ü zebra")


def test_bfrange_array_form():
    """bfrange's bracketed destination-array form maps each CID in the
    range to its own UTF-16BE string."""
    from pdf_extractor_spark.ops.pdfstream import _Doc

    cmap = (b"begincmap\n1 beginbfrange\n"
            b"<0001> <0003> [<0058> <0059> <005a>]\n"
            b"endbfrange\nendcmap")
    body = b"BT /F1 11 Tf 72 720 Td <000100020003> Tj ET"
    pdf = _minimal_pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Count 1 /Kids [3 0 R] >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Resources"
            b" << /Font << /F1 4 0 R >> >> /Contents 6 0 R >>"),
        4: (b"<< /Type /Font /Subtype /Type0 /Encoding /Identity-H"
            b" /ToUnicode 5 0 R >>"),
        5: b"<< /Length %d >>\nstream\n" % len(cmap) + cmap
           + b"\nendstream",
        6: b"<< /Length %d >>\nstream\n" % len(body) + body
           + b"\nendstream",
    })
    parsed = parse_pdf_doc(pdf)
    assert parsed[0]["text"] == "XYZ"
    assert parsed[0]["decode_failures"] == 0


def test_pdf_front_door_shuffle_free(spark, sf_dir, monkeypatch):
    """The document-level front door (parse_pdf_docs) must keep the
    whole tier scan → mapInPandas with zero KEYED exchanges —
    reassembly is kernel-local because whole PDFs arrive one per row.
    Zero exchanges of any kind for a wide input (pinned by zeroing the
    size gate); the testdata scan itself may carry a round-robin
    rebalance (ops.layout)."""
    from pdf_extractor_spark.datagen import pdfs_from_documents
    from pdf_extractor_spark.ops import layout
    from pdf_extractor_spark.ops.curate import extract_pdf_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = extract_pdf_text(pdfs_from_documents(docs), with_metrics=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 2   # render + parse kernels
    assert "Exchange hashpartitioning" not in plan
    monkeypatch.setattr(layout, "_BYTES_PER_CORE", 0)
    wide = extract_pdf_text(pdfs_from_documents(docs), with_metrics=True)
    plan_wide = wide._jdf.queryExecution().executedPlan().toString()
    assert plan_wide.count("MapInPandas") == 2
    assert "Exchange" not in plan_wide


def test_pdf_front_door_spreads_a_narrow_input(spark, tmp_path):
    """A one-row-group (doc_id, pdf) parquet is one scan task; the PDF
    front door round-robins it to core width before the parse, as the
    HTML front door does before its flatten, so more than one task
    parses it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_extractor_spark.ops.curate import extract_pdf_text

    ids = list(range(64))
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "pdf": [gen_pdf_bytes(i, doc_row(42, i)["text"]) for i in ids]})
    path = str(tmp_path / "pdfs.parquet")
    pq.write_table(table, path, row_group_size=len(ids))
    assert pq.ParquetFile(path).num_row_groups == 1

    ext = extract_pdf_text(spark.read.parquet(path), with_metrics=True)
    rows = ext.select("doc_id", "partition_id").collect()
    assert sorted(r.doc_id for r in rows) == ids
    assert len({r.partition_id for r in rows}) > 1


def test_hybrid_xrefstm_takes_precedence_over_stale_classic():
    """§7.5.8.4: when a hybrid file's classic table carries a stale
    'n' entry for an object the /XRefStm stream redefines, the stream
    entry wins (no fallback scan involved — both offsets hold valid
    headers for the same object number)."""
    import zlib

    from pdf_extractor_spark.ops.pdfstream import _Doc

    def content(txt: bytes) -> bytes:
        body = b"BT /F1 11 Tf 72 720 Td (" + txt + b") Tj ET"
        return (b"<< /Length %d >>\nstream\n" % len(body) + body
                + b"\nendstream")

    out = bytearray(b"%PDF-1.5\n")
    offs: dict[str, int] = {}
    objs = [(1, b"<< /Type /Catalog /Pages 2 0 R >>", "1"),
            (2, b"<< /Type /Pages /Count 1 /Kids [3 0 R] >>", "2"),
            (3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>", "3"),
            (4, content(b"stale"), "4old"),
            (4, content(b"fresh"), "4new")]
    for num, data, tag in objs:
        offs[tag] = len(out)
        out += b"%d 0 obj\n" % num + data + b"\nendobj\n"
    # xref STREAM: object 5; type-1 rows, /W [1 4 2]
    xref_off = len(out)
    rows = bytearray()
    stream_offs = [0, offs["1"], offs["2"], offs["3"], offs["4new"],
                   xref_off]
    for num, o in enumerate(stream_offs):
        t = 0 if num == 0 else 1
        rows += bytes([t]) + o.to_bytes(4, "big") + b"\x00\x00"
    xdata = zlib.compress(bytes(rows))
    out += (b"5 0 obj\n<< /Type /XRef /Size 6 /W [1 4 2] /Root 1 0 R"
            b" /Filter /FlateDecode /Length %d >>\nstream\n" % len(xdata)
            + xdata + b"\nendstream\nendobj\n")
    # classic table (what startxref points at): STALE offset for 4
    classic_off = len(out)
    out += b"xref\n0 6\n0000000000 65535 f \n"
    for tag in ("1", "2", "3", "4old"):
        out += b"%010d 00000 n \n" % offs[tag]
    out += b"%010d 00000 n \n" % xref_off
    out += (b"trailer\n<< /Size 6 /Root 1 0 R /XRefStm %d >>\n"
            b"startxref\n%d\n%%%%EOF\n" % (xref_off, classic_off))

    d = _Doc(bytes(out))
    assert d.offsets[4] == offs["4new"]     # stream entry won
    parsed = parse_pdf_doc(bytes(out))
    assert [p["text"] for p in parsed] == ["fresh"]


def test_encrypted_strings_and_generation_numbers():
    """Object-level strings in encrypted documents RC4-decrypt with
    the per-object key, and the key derives from the object's REAL
    generation number (not a hardcoded 0). The /Encrypt dictionary's
    own strings stay exempt."""
    import hashlib

    from pdf_extractor_spark.datagen import _W_PDF_PAD, _w_rc4
    from pdf_extractor_spark.ops.pdfstream import _Doc

    doc_id_bytes = hashlib.md5(b"encstr-test").digest()
    owner_o = _w_rc4(hashlib.md5(_W_PDF_PAD).digest()[:5], _W_PDF_PAD)
    p = (-1) & 0xFFFFFFFF
    key = hashlib.md5(_W_PDF_PAD + owner_o + p.to_bytes(4, "little")
                      + doc_id_bytes).digest()[:5]
    u = _w_rc4(key, _W_PDF_PAD)

    def objkey(num: int, gen: int) -> bytes:
        return hashlib.md5(key + num.to_bytes(3, "little")
                           + gen.to_bytes(2, "little")).digest()[:10]

    body = b"BT /F1 11 Tf 72 720 Td (secret words) Tj ET"
    enc_body = _w_rc4(objkey(4, 7), body)       # object 4, GENERATION 7
    info_str = _w_rc4(objkey(6, 0), b"plain title")
    objs = {
        1: (0, b"<< /Type /Catalog /Pages 2 0 R >>"),
        2: (0, b"<< /Type /Pages /Count 1 /Kids [3 0 R] >>"),
        3: (0, b"<< /Type /Page /Parent 2 0 R /Contents 4 7 R >>"),
        4: (7, b"<< /Length %d >>\nstream\n" % len(enc_body) + enc_body
            + b"\nendstream"),
        5: (0, b"<< /Filter /Standard /V 1 /R 2 /O <"
            + owner_o.hex().encode() + b"> /U <" + u.hex().encode()
            + b"> /P -1 >>"),
        6: (0, b"<< /Title <" + info_str.hex().encode() + b"> >>"),
    }
    out = bytearray(b"%PDF-1.4\n")
    offs = {}
    for n in sorted(objs):
        gen, data = objs[n]
        offs[n] = len(out)
        out += b"%d %d obj\n" % (n, gen) + data + b"\nendobj\n"
    xo = len(out)
    out += b"xref\n0 7\n0000000000 65535 f \n"
    for n in range(1, 7):
        out += b"%010d %05d n \n" % (offs[n], objs[n][0])
    idhex = doc_id_bytes.hex().encode()
    out += (b"trailer\n<< /Size 7 /Root 1 0 R /Encrypt 5 0 R"
            b" /ID [<" + idhex + b"> <" + idhex + b">] >>\n"
            b"startxref\n%d\n%%%%EOF\n" % xo)

    # NOTE: the reference-lookahead parses "4 7 R"; generation in refs
    # is ignored by design (one live generation per object), but the
    # OBJECT's own header generation must drive its key
    pdf = bytes(out)
    parsed = parse_pdf_doc(pdf)
    assert [p["text"] for p in parsed] == ["secret words"]
    assert parsed[0]["decode_failures"] == 0
    d = _Doc(pdf)
    assert d.resolve(d.obj(6))["Title"] == b"plain title"
    enc = d.resolve(d.trailer["Encrypt"])
    assert _w_rc4(key, enc["U"]) == _W_PDF_PAD   # /U stayed exempt


def test_encrypted_pdf_standard_handler():
    """RC4 standard-security-handler docs (empty user password): the
    file key derives per Algorithm 2, /U validates per Algorithm 6
    (RC4(key, U) == PAD for R2), streams decrypt per object, and
    extracted text is byte-identical. Ciphertext must not contain the
    plaintext."""
    from pdf_extractor_spark.datagen import _h
    from pdf_extractor_spark.ops.pdfstream import _PDF_PAD, _Doc, _rc4

    ids = [i for i in range(3000)
           if _h(0, i, "pdfenc") % 11 == 0][:4]
    assert ids
    for doc_id in ids:
        text = doc_row(42, doc_id)["text"]
        pdf = gen_pdf_bytes(doc_id, text)
        assert b"/Encrypt" in pdf
        d = _Doc(pdf)
        assert d._enc_key is not None and len(d._enc_key) == 5
        enc = d.resolve(d.trailer["Encrypt"])
        assert _rc4(d._enc_key, enc["U"]) == _PDF_PAD   # Algorithm 6
        first_words = " ".join(text.split()[:3])
        if len(first_words) > 6:
            assert first_words.encode("cp1252", "ignore") not in pdf
        _assert_roundtrip(doc_id, text)


def _encrypted_pdf(enc_dict: bytes, doc_id_bytes: bytes,
                   enc_body: bytes, enc_title: bytes) -> bytes:
    """Minimal encrypted file skeleton shared by the AES tests:
    object 4 = content stream (pre-encrypted), 5 = /Encrypt dict,
    6 = an /Info-style dict with an encrypted literal string."""
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Count 1 /Kids [3 0 R] >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: (b"<< /Length %d >>\nstream\n" % len(enc_body) + enc_body
            + b"\nendstream"),
        5: enc_dict,
        6: b"<< /Title <" + enc_title.hex().encode() + b"> >>",
    }
    out = bytearray(b"%PDF-1.6\n")
    offs = {}
    for n in sorted(objs):
        offs[n] = len(out)
        out += b"%d 0 obj\n" % n + objs[n] + b"\nendobj\n"
    xo = len(out)
    out += b"xref\n0 7\n0000000000 65535 f \n"
    for n in range(1, 7):
        out += b"%010d 00000 n \n" % offs[n]
    idhex = doc_id_bytes.hex().encode()
    out += (b"trailer\n<< /Size 7 /Root 1 0 R /Encrypt 5 0 R"
            b" /ID [<" + idhex + b"> <" + idhex + b">] >>\n"
            b"startxref\n%d\n%%%%EOF\n" % xo)
    return bytes(out)


def test_encrypted_pdf_aesv2():
    """V4 crypt-filter documents with /CFM /AESV2 (AES-128-CBC,
    IV-prefixed payloads, per-object key salted with b'sAlT'): streams
    AND strings decrypt; extracted text is byte-identical; ciphertext
    does not contain the plaintext."""
    import hashlib

    from pdf_extractor_spark.ops import aes
    from pdf_extractor_spark.ops.pdfstream import _PDF_PAD, _Doc

    doc_id_bytes = hashlib.md5(b"aesv2-test").digest()
    owner_o = hashlib.sha256(b"owner-entry").digest()  # opaque 32 bytes
    p = (-1) & 0xFFFFFFFF
    key = hashlib.md5(_PDF_PAD + owner_o + p.to_bytes(4, "little")
                      + doc_id_bytes).digest()
    for _ in range(50):                                # R4 rehash
        key = hashlib.md5(key[:16]).digest()
    key = key[:16]

    def objkey(num: int) -> bytes:
        return hashlib.md5(key + num.to_bytes(3, "little")
                           + b"\x00\x00" + b"sAlT").digest()[:16]

    body = b"BT /F1 11 Tf 72 720 Td (aes secret words) Tj ET"
    iv = bytes(range(16))
    enc_body = aes.pdf_aes_encrypt(objkey(4), iv, body)
    enc_title = aes.pdf_aes_encrypt(objkey(6), iv[::-1], b"aes title")
    enc_dict = (b"<< /Filter /Standard /V 4 /R 4 /Length 128"
                b" /CF << /StdCF << /CFM /AESV2 /Length 16 >> >>"
                b" /StmF /StdCF /StrF /StdCF"
                b" /O <" + owner_o.hex().encode() + b">"
                b" /U <" + (b"\x00" * 32).hex().encode() + b">"
                b" /P -1 >>")
    pdf = _encrypted_pdf(enc_dict, doc_id_bytes, enc_body, enc_title)

    assert b"aes secret words" not in pdf
    parsed = parse_pdf_doc(pdf)
    assert [p["text"] for p in parsed] == ["aes secret words"]
    assert parsed[0]["decode_failures"] == 0
    d = _Doc(pdf)
    assert d._enc_stream_cipher == "aes" and len(d._enc_key) == 16
    assert d.resolve(d.obj(6))["Title"] == b"aes title"


def test_encrypted_pdf_aes256_r6():
    """V5/R6 (AES-256): the file key is recovered by decrypting /UE
    with the Algorithm-2.B hash of the empty user password and /U's
    key salt; streams and strings decrypt with the file key directly
    (no per-object derivation)."""
    import hashlib

    from pdf_extractor_spark.ops import aes
    from pdf_extractor_spark.ops.pdfstream import _Doc, _hash_2b

    file_key = hashlib.sha256(b"the-file-key").digest()     # 32 bytes
    vsalt = bytes(range(8))
    ksalt = bytes(range(8, 16))
    u = _hash_2b(b"", vsalt, b"") + vsalt + ksalt            # 48 bytes
    ik = _hash_2b(b"", ksalt, b"")
    ue = aes.cbc_encrypt(ik, b"\x00" * 16, file_key, pad=False)
    assert len(ue) == 32

    body = b"BT /F1 11 Tf 72 720 Td (aes256 secret) Tj ET"
    iv = bytes(range(16, 32))
    enc_body = aes.pdf_aes_encrypt(file_key, iv, body)
    enc_title = aes.pdf_aes_encrypt(file_key, iv[::-1], b"r6 title")
    enc_dict = (b"<< /Filter /Standard /V 5 /R 6 /Length 256"
                b" /CF << /StdCF << /CFM /AESV3 /Length 32 >> >>"
                b" /StmF /StdCF /StrF /StdCF"
                b" /O <" + (b"\x11" * 48).hex().encode() + b">"
                b" /OE <" + (b"\x22" * 32).hex().encode() + b">"
                b" /U <" + u.hex().encode() + b">"
                b" /UE <" + ue.hex().encode() + b">"
                b" /P -4 >>")
    doc_id_bytes = hashlib.md5(b"aes256-test").digest()
    pdf = _encrypted_pdf(enc_dict, doc_id_bytes, enc_body, enc_title)

    assert b"aes256 secret" not in pdf
    parsed = parse_pdf_doc(pdf)
    assert [p["text"] for p in parsed] == ["aes256 secret"]
    assert parsed[0]["decode_failures"] == 0
    d = _Doc(pdf)
    assert d._enc_stream_cipher == "aes" and d._enc_key == file_key
    assert d.resolve(d.obj(6))["Title"] == b"r6 title"


def test_aes_known_answer_vectors():
    """FIPS-197 Appendix C block vectors (128/192/256) and the NIST
    SP 800-38A CBC-AES128 vector pin the from-scratch cipher."""
    from pdf_extractor_spark.ops.aes import (_decrypt_block,
                                             _encrypt_block,
                                             _expand_key, cbc_decrypt,
                                             cbc_encrypt)

    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    for keyhex, cthex in [
        ("000102030405060708090a0b0c0d0e0f",
         "69c4e0d86a7b0430d8cdb78070b4c55a"),
        ("000102030405060708090a0b0c0d0e0f1011121314151617",
         "dda97ca4864cdfe06eaf70a0ec0d7191"),
        ("000102030405060708090a0b0c0d0e0f"
         "101112131415161718191a1b1c1d1e1f",
         "8ea2b7ca516745bfeafc49904b496089"),
    ]:
        rk = _expand_key(bytes.fromhex(keyhex))
        assert _encrypt_block(rk, pt).hex() == cthex
        assert _decrypt_block(rk, bytes.fromhex(cthex)) == pt
    key = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
    iv = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    one = bytes.fromhex("6bc1bee22e409f96e93d7e117393172a")
    assert cbc_encrypt(key, iv, one, pad=False).hex() == \
        "7649abac8119b246cee98e9b12e9197d"
    for n in range(0, 40):                      # padding round trips
        data = bytes(range(n))
        assert cbc_decrypt(key, iv, cbc_encrypt(key, iv, data)) == data


def test_text_tier_matches_layout_tier():
    """parse_pdf_doc (the text tier, no word boxes) and the layout
    tier's walk (want_words=True) must produce identical line text on
    the same bytes, across all writer representation variants."""
    from pdf_extractor_spark.ops.pdfstream import parse_pdf_layout_doc

    for doc_id in range(60):
        text = doc_row(42, doc_id)["text"]
        pdf = gen_pdf_bytes(doc_id, text)
        via_fast = "\f".join(p["text"] for p in parse_pdf_doc(pdf))
        via_slow = "\f".join(t for _, t in
                             parse_pdf_layout_doc(pdf)["pages"])
        assert via_fast == via_slow, doc_id


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=400))
@example(b"<<\x01")                     # unterminated inline dict
@example(b"(\\93)Tj")                   # '\9' is no octal escape
def test_content_lexer_never_raises(blob):
    """The content-stream loop must terminate and never raise on
    arbitrary byte soup (content streams of crawled PDFs contain
    anything)."""
    segs, n_ops, failures = _extract_page(blob, {}, {})
    assert isinstance(segs, list) and n_ops >= 0 and failures >= 0


@settings(max_examples=60, deadline=None)
@given(st.lists(st.sampled_from(
    [b"BT", b"ET", b"Tj", b"TJ", b"Tf", b"Td", b"12.5", b"-3", b"/F1",
     b"(txt)", b"<48656c6c6f>", b"[", b"]", b"(a(b)c)", b"%cmt\n",
     b"<< /K /V >>", b"T*", b"'", b"\xff\x00"]), max_size=40))
def test_content_lexer_token_soup(parts):
    """Structured token soup (valid tokens in random order, including
    unbalanced arrays and nested strings) runs without error."""
    segs, n_ops, failures = _extract_page(b" ".join(parts), {}, {})
    assert isinstance(segs, list) and n_ops >= 0 and failures >= 0


def test_content_stream_operands_arrays_and_skips():
    """One hand-written stream pins how the loop groups operands:
    operands before an inline image carry over to the next operator
    (BI…EI is skipped, not counted); an operator inside an open array
    runs, and the array stays open for the TJ after its ']'; an inline
    `<<…>>` dict is skipped whole (its ')' and ']' included); a nested
    array inside TJ shows nothing."""
    content = (b"BT /F1 12 Tf 14 TL\n"
               b"72 700 BI /W 2 /H 1 /BPC 8 ID \x00(ET]\xff EI Td\n"
               b"(Hi) Tj\n"
               b"/Span << /MCID 0 /Alt (x]) >> BDC\n"
               b"[(A) -250 [(skip)] (B)] TJ EMC\n"
               b"[(C) T* (D)] TJ ET")
    segs, n_ops, failures = _extract_page(content, {}, {})
    # BT Tf TL Td Tj BDC TJ EMC T* TJ ET
    assert (n_ops, failures) == (11, 0)
    assert [(s[0], "".join(s[1])) for s in segs] == [
        (700.0, "Hi"), (700.0, "A"), (700.0, "B"),
        (686.0, "C"), (686.0, "D")]
