"""Adversarial real-PDF golden set: grammar COMBINATIONS the datagen
writer twins never co-produce (each feature ships and round-trips
individually in test_pdfstream.py; real crawled PDFs compose them).

Contract per case: ``parse_pdf_doc`` either extracts the expected text
(decode_failures == 0) or fails cleanly (failure rows with
decode_failures surfaced) — an exception must never escape, including
under truncation/corruption of every synthesized document here.

Reference analog: the reference delegates PDF internals to
pdfplumber/pypdf (pdf_processor_core.py); these compositions are what
those libraries tolerate on crawled corpora, re-pinned against the
from-scratch parser.
"""

import hashlib
import signal
import time
import zlib

import pytest

from pdf_extractor_spark.datagen import doc_row, gen_pdf_bytes
from pdf_extractor_spark.ops.pdfstream import (
    _PDF_PAD, _Doc, _rc4, layout_row, parse_pdf_doc, parse_pdf_layout_doc)
from pdf_extractor_spark.payload import decode_layout


def _xref_stream_pdf(type1: dict[int, bytes], type2: dict[int, bytes],
                     container_num: int, xref_num: int,
                     trailer_extra: bytes = b"") -> bytes:
    """Build a PDF-1.5 file: `type1` objects written directly,
    `type2` objects packed into one /ObjStm container, a /W [1 4 2]
    cross-reference STREAM as `xref_num`, no classic trailer."""
    out = bytearray(b"%PDF-1.5\n")
    offs: dict[int, int] = {}
    for num in sorted(type1):
        offs[num] = len(out)
        out += b"%d 0 obj\n" % num + type1[num] + b"\nendobj\n"
    # /ObjStm container: "num off" pairs then concatenated values
    nums2 = sorted(type2)
    header = bytearray()
    data = bytearray()
    pos: dict[int, int] = {}
    for num in nums2:
        pos[num] = len(data)
        data += type2[num] + b"\n"
    for num in nums2:
        header += b"%d %d " % (num, pos[num])
    payload = zlib.compress(bytes(header) + bytes(data))
    offs[container_num] = len(out)
    out += (b"%d 0 obj\n<< /Type /ObjStm /N %d /First %d"
            b" /Filter /FlateDecode /Length %d >>\nstream\n"
            % (container_num, len(nums2), len(header), len(payload))
            + payload + b"\nendstream\nendobj\n")
    xref_off = len(out)
    size = max([*type1, *type2, container_num, xref_num]) + 1
    rows = bytearray()
    for num in range(size):
        if num == xref_num:
            rows += b"\x01" + xref_off.to_bytes(4, "big") + b"\x00\x00"
        elif num == container_num or num in type1:
            rows += b"\x01" + offs[num].to_bytes(4, "big") + b"\x00\x00"
        elif num in type2:
            rows += (b"\x02" + container_num.to_bytes(4, "big")
                     + nums2.index(num).to_bytes(2, "big"))
        else:
            rows += b"\x00" + (0).to_bytes(4, "big") + b"\xff\xff"
    xdata = zlib.compress(bytes(rows))
    out += (b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Root 1 0 R"
            % (xref_num, size) + trailer_extra
            + b" /Filter /FlateDecode /Length %d >>\nstream\n" % len(xdata)
            + xdata + b"\nendstream\nendobj\nstartxref\n%d\n%%%%EOF\n"
            % xref_off)
    return bytes(out)


def _never_raises(pdf: bytes) -> None:
    """Corruption sweep: truncations and byte flips must yield rows
    (possibly failure rows), never an escaping exception, from both
    projections of the document walk: the text tier (`parse_pdf_doc`)
    and the extraction job's front door (`layout_row`)."""
    cuts = [pdf[:cut] for cut in
            (0, 7, len(pdf) // 4, len(pdf) // 2, len(pdf) - 9)]
    flips = []
    for pos in (len(pdf) // 3, 2 * len(pdf) // 3, len(pdf) - 20):
        mut = bytearray(pdf)
        mut[pos] ^= 0xFF
        flips.append(bytes(mut))
    for bad in cuts + flips:
        out = parse_pdf_doc(bad)
        assert isinstance(out, list)
        assert all(isinstance(p, dict) and "decode_failures" in p
                   for p in out)
        row = layout_row(bad)
        assert isinstance(row, tuple) and len(row) == 5


def test_encrypted_objstm_cid_composition():
    """Encrypted (RC4 standard handler) + /ObjStm-packed page tree and
    Type0 font dicts + CID content via /ToUnicode CMap — one file.
    Spec interlocks exercised: the xref STREAM is never encrypted
    (§7.5.8.2); the /ObjStm container's stream IS encrypted with the
    container's own object key, and strings inside its compressed
    objects are NOT separately decrypted (§7.5.7); the /Encrypt
    dictionary's own strings stay exempt."""
    doc_id_bytes = hashlib.md5(b"adv-enc-objstm-cid").digest()
    owner_o = _rc4(hashlib.md5(_PDF_PAD).digest()[:5], _PDF_PAD)
    p = (-1) & 0xFFFFFFFF
    key = hashlib.md5(_PDF_PAD + owner_o + p.to_bytes(4, "little")
                      + doc_id_bytes).digest()[:5]
    u = _rc4(key, _PDF_PAD)

    def objkey(num: int) -> bytes:
        return hashlib.md5(key + num.to_bytes(3, "little")
                           + (0).to_bytes(2, "little")).digest()[:10]

    cmap = (b"begincmap\n5 beginbfchar\n"
            b"<0001> <0063>\n<0002> <0072>\n<0003> <0079>\n"
            b"<0004> <0070>\n<0005> <0074>\nendbfchar\nendcmap")
    body = b"BT /F0 11 Tf 72 720 Td <00010002000300040005> Tj ET"
    type1 = {
        4: (b"<< /Length %d >>\nstream\n" % len(body)
            + _rc4(objkey(4), body) + b"\nendstream"),
        5: (b"<< /Length %d >>\nstream\n" % len(cmap)
            + _rc4(objkey(5), cmap) + b"\nendstream"),
        9: (b"<< /Filter /Standard /V 1 /R 2 /O <"
            + owner_o.hex().encode() + b"> /U <" + u.hex().encode()
            + b"> /P -1 >>"),
    }
    type2 = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Count 1 /Kids [3 0 R] >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Resources"
            b" << /Font << /F0 8 0 R >> >> /Contents 4 0 R >>"),
        8: (b"<< /Type /Font /Subtype /Type0 /Encoding /Identity-H"
            b" /ToUnicode 5 0 R >>"),
    }
    pdf = _xref_stream_pdf(type1, type2, container_num=6, xref_num=7,
                           trailer_extra=(
                               b" /Encrypt 9 0 R /ID [<"
                               + doc_id_bytes.hex().encode() + b"> <"
                               + doc_id_bytes.hex().encode() + b">]"))
    # the container stream must be RC4'd AFTER the builder compressed
    # it: splice the encryption in (stored = RC4(key6, flate(data)))
    start = pdf.index(b"/Type /ObjStm")
    sdata = pdf.index(b"stream\n", start) + len(b"stream\n")
    send = pdf.index(b"\nendstream", sdata)
    pdf = pdf[:sdata] + _rc4(objkey(6), pdf[sdata:send]) + pdf[send:]

    assert b"/Encrypt" in pdf and b"/ObjStm" in pdf
    # neither plaintext stream appears anywhere in the file
    assert body not in pdf and cmap not in pdf
    d = _Doc(pdf)
    assert d._enc_key is not None
    assert 1 in d.compressed and 8 in d.compressed   # really type-2
    parsed = parse_pdf_doc(pdf)
    assert [pg["text"] for pg in parsed] == ["crypt"]
    assert parsed[0]["decode_failures"] == 0
    _never_raises(pdf)


def _classic_pdf(objs: dict[int, bytes], off_delta: int = 0) -> bytes:
    """Classic-xref file whose table offsets are shifted by
    `off_delta` bytes (real crawlers see both directions)."""
    out = bytearray(b"%PDF-1.4\n")
    offs = {}
    for n in sorted(objs):
        offs[n] = len(out)
        out += b"%d 0 obj\n" % n + objs[n] + b"\nendobj\n"
    xo = len(out)
    top = max(objs) + 1
    out += b"xref\n0 %d\n0000000000 65535 f \n" % top
    for n in range(1, top):
        out += b"%010d 00000 n \n" % (offs[n] + off_delta)
    out += (b"trailer\n<< /Size %d /Root 1 0 R /Info 99 0 R >>\n"
            b"startxref\n%d\n%%%%EOF\n" % (top, xo))
    return bytes(out)


_SIMPLE_OBJS = {
    1: b"<< /Type /Catalog /Pages 2 0 R >>",
    2: b"<< /Type /Pages /Count 1 /Kids [3 0 R] >>",
    3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
    4: (b"<< /Length 43 >>\nstream\n"
        b"BT /F1 11 Tf 72 720 Td (offset drift) Tj ET\nendstream"),
}
assert len(b"BT /F1 11 Tf 72 720 Td (offset drift) Tj ET") == 43


def test_xref_offsets_off_by_whitespace():
    """Offsets pointing at the newline BEFORE the object header (a
    real-world generator bug) are tolerated by whitespace-skip; the
    xref still resolves directly (no fallback — the file trailer's
    /Info marker survives)."""
    pdf = _classic_pdf(_SIMPLE_OBJS, off_delta=-1)
    d = _Doc(pdf)
    assert "Info" in d.trailer          # direct trailer, not scan-built
    parsed = parse_pdf_doc(pdf)
    assert [pg["text"] for pg in parsed] == ["offset drift"]
    assert parsed[0]["decode_failures"] == 0
    _never_raises(pdf)


def test_xref_offsets_past_header_degrade_to_scan():
    """Offsets pointing INTO the object header (past its first byte)
    fail offset validation and the whole document cleanly degrades to
    the brute-force object scan — same text, no exception. The
    scan-built trailer lacks the file trailer's /Info marker, which
    proves the fallback actually ran."""
    pdf = _classic_pdf(_SIMPLE_OBJS, off_delta=+2)
    d = _Doc(pdf)
    assert "Info" not in d.trailer      # scan fallback took over
    parsed = parse_pdf_doc(pdf)
    assert [pg["text"] for pg in parsed] == ["offset drift"]
    assert parsed[0]["decode_failures"] == 0
    _never_raises(pdf)


@pytest.mark.parametrize("doc_id, good, bad", [
    # xref stream: /Size an array (int() of a list: TypeError)
    (5, b"/Type /XRef /Size 10", b"/Type /XRef /Size[1]"),
    # classic trailer: a number where the dict should be
    (0, b"trailer\n<<", b"trailer\n5 <<"),
], ids=["xref_stream_size_array", "trailer_not_a_dict"])
def test_malformed_xref_section_degrades_to_scan(doc_id, good, bad):
    """An xref section that raises something other than ValueError
    (TypeError, AttributeError) still degrades to the object scan,
    which recovers the whole document instead of losing it."""
    clean = gen_pdf_bytes(doc_id, doc_row(42, doc_id)["text"])
    assert clean.count(good) == 1
    want = layout_row(clean)
    assert want[2] > 0 and want[4] == 0        # pages, no failures
    assert layout_row(clean.replace(good, bad)) == want


def test_stream_length_indirect_into_objstm():
    """A content stream whose /Length is an indirect reference whose
    TARGET lives inside an /ObjStm container: resolving the length
    must route through the type-2 entry and the container parse."""
    body = b"BT /F1 11 Tf 72 720 Td (indirect depth) Tj ET"
    type1 = {
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"),
        4: (b"<< /Length 9 0 R >>\nstream\n" + body + b"\nendstream"),
    }
    type2 = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Count 1 /Kids [3 0 R] >>",
        9: b"%d" % len(body),
    }
    pdf = _xref_stream_pdf(type1, type2, container_num=6, xref_num=7)
    d = _Doc(pdf)
    assert 9 in d.compressed
    assert d.resolve(d.obj(4)[0]["Length"]) == len(body)
    parsed = parse_pdf_doc(pdf)
    assert [pg["text"] for pg in parsed] == ["indirect depth"]
    assert parsed[0]["decode_failures"] == 0
    _never_raises(pdf)


def test_cid_codespace_wider_than_used():
    """A /ToUnicode CMap declaring 1-, 2-, 3- and 4-byte codespace
    ranges while every mapping and every show string is 2-byte: the
    declared-but-unused wide ranges must not derail the 2-byte decode
    (a naive codespace-driven widther would read 3-byte codes)."""
    cmap = (b"begincmap\n"
            b"4 begincodespacerange\n"
            b"<00> <80>\n<0000> <FFFF>\n"
            b"<000000> <FFFFFF>\n<00000000> <FFFFFFFF>\n"
            b"endcodespacerange\n"
            b"1 beginbfrange\n<0041> <0045> <0057>\nendbfrange\n"
            b"1 beginbfchar\n<0100> <0021>\nendbfchar\n"
            b"endcmap")
    body = b"BT /F1 11 Tf 72 720 Td <00410042004301000045> Tj ET"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Count 1 /Kids [3 0 R] >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Resources"
            b" << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>"),
        4: b"<< /Length %d >>\nstream\n" % len(body) + body
           + b"\nendstream",
        5: (b"<< /Type /Font /Subtype /Type0 /Encoding /Identity-H"
            b" /ToUnicode 6 0 R >>"),
        6: b"<< /Length %d >>\nstream\n" % len(cmap) + cmap
           + b"\nendstream",
    }
    pdf = _classic_pdf(objs)
    parsed = parse_pdf_doc(pdf)
    # W X Y ! [CID 0x45 → 0x57+4 = '['] — 2-byte decode throughout
    assert [pg["text"] for pg in parsed] == ["WXY![" ]
    assert parsed[0]["decode_failures"] == 0
    _never_raises(pdf)


def test_aes_corruption_degrades_cleanly():
    """Corrupt AES metadata must surface decode_failures (or empty
    text), never an exception escaping parse_pdf_doc: truncated /UE,
    short /U, garbage IV-payloads, and a V4 /CF naming a filter the
    /StmF doesn't reference."""
    import hashlib

    from pdf_extractor_spark.ops import aes
    from pdf_extractor_spark.ops.pdfstream import _hash_2b, parse_pdf_doc
    from tests.test_pdfstream import _encrypted_pdf

    file_key = hashlib.sha256(b"k").digest()
    vs, ks = bytes(8), bytes(range(8))
    u = _hash_2b(b"", vs, b"") + vs + ks
    ue = aes.cbc_encrypt(_hash_2b(b"", ks, b""), b"\x00" * 16,
                         file_key, pad=False)
    body = b"BT /F1 11 Tf 72 720 Td (clean) Tj ET"
    iv = bytes(16)
    good = aes.pdf_aes_encrypt(file_key, iv, body)

    def enc_dict(u_=None, ue_=None):
        return (b"<< /Filter /Standard /V 5 /R 6"
                b" /CF << /StdCF << /CFM /AESV3 >> >> /StmF /StdCF"
                b" /U <" + (u_ if u_ is not None else u).hex().encode()
                + b"> /UE <"
                + (ue_ if ue_ is not None else ue).hex().encode()
                + b"> /O <" + (b"\x11" * 48).hex().encode()
                + b"> /OE <" + (b"\x22" * 32).hex().encode()
                + b"> /P -4 >>")

    did = hashlib.md5(b"aes-corrupt").digest()
    # control: intact file parses
    ok = parse_pdf_doc(_encrypted_pdf(enc_dict(), did, good, b""))
    assert [p["text"] for p in ok] == ["clean"]

    corruptions = [
        _encrypted_pdf(enc_dict(ue_=ue[:8]), did, good, b""),   # short UE
        _encrypted_pdf(enc_dict(u_=u[:16]), did, good, b""),    # short U
        _encrypted_pdf(enc_dict(), did, good[:9], b""),         # short payload
        _encrypted_pdf(enc_dict(ue_=ue[::-1]), did, good, b""),  # wrong key
    ]
    for pdf in corruptions:
        pages = parse_pdf_doc(pdf)          # must not raise
        assert isinstance(pages, list)
        joined = "".join(p["text"] for p in pages)
        assert joined != "clean" or sum(
            p["decode_failures"] for p in pages) == 0
        # the wrong-key / short-material cases must not reproduce the
        # plaintext by accident
        if pdf is not corruptions[2]:
            assert "clean" not in joined


def test_v4_identity_stmf_streams_pass_through():
    """§7.6.5: /StmF defaults to Identity — streams are NOT encrypted
    even though /Encrypt is present, while /StrF /StdCF strings still
    decrypt with RC4. The r5 code applied the RC4 key to such plain
    streams, scrambling them into garbage (ADVICE item 1/4)."""
    import hashlib

    from pdf_extractor_spark.ops.pdfstream import (_PDF_PAD, _Doc, _rc4,
                                                   parse_pdf_doc)
    from tests.test_pdfstream import _encrypted_pdf

    did = hashlib.md5(b"identity-stmf").digest()
    owner_o = _rc4(hashlib.md5(_PDF_PAD).digest()[:16], _PDF_PAD)
    p = (-4) & 0xFFFFFFFF
    key = hashlib.md5(_PDF_PAD + owner_o + p.to_bytes(4, "little")
                      + did).digest()
    for _ in range(50):          # R4 re-hash rounds at n=16
        key = hashlib.md5(key[:16]).digest()
    key = key[:16]

    body = b"BT /F1 11 Tf 72 720 Td (plain stream) Tj ET"

    def str_key(num: int) -> bytes:
        k = hashlib.md5(key + num.to_bytes(3, "little")
                        + b"\x00\x00").digest()
        return k[:16]

    enc_title = _rc4(str_key(6), b"secret title")
    enc_dict = (b"<< /Filter /Standard /V 4 /R 4 /Length 128"
                b" /CF << /StdCF << /CFM /V2 >> >>"
                b" /StrF /StdCF"        # no /StmF -> Identity
                b" /O <" + owner_o.hex().encode()
                + b"> /U <" + (b"\x00" * 32).hex().encode()
                + b"> /P -4 >>")
    pdf = _encrypted_pdf(enc_dict, did, body, enc_title)

    pages = parse_pdf_doc(pdf)
    assert [pg["text"] for pg in pages] == ["plain stream"]

    d = _Doc(pdf)
    assert d._enc_stream_cipher == "none"
    assert d._enc_string_cipher == "rc4"
    info = d.resolve(d.obj(6))
    assert info["Title"] == b"secret title"


def test_negative_widths_text_matches_layout():
    """A crafted negative /Widths entry gives negative advances, so a
    show's glyph positions no longer ascend. The text tier
    (`parse_pdf_doc`) and the layout tier (`layout_row`) both sort the
    glyphs by x start and give the same line text."""
    from tests.test_pdf_layout import _one_page_pdf

    for show, widths, want in [
        (b"(ab)", b"[500 -500]", "ab"),
        # b's -15 pt advance puts c left of a: glyph order is c, a, b
        (b"(abc)", b"[500 -1500 500]", "c ab"),
    ]:
        pdf = _one_page_pdf(
            b"BT /F1 10 Tf 72 700 Td " + show + b" Tj ET",
            font_extra=b" /FirstChar 97 /Widths " + widths)
        text = parse_pdf_doc(pdf)[0]["text"]
        assert text == layout_row(pdf)[1] == want


def test_direct_font_dicts_kept_alive():
    """Fonts given as direct (non-_Ref) dicts never enter _font_cache,
    so each page builds its own _Font. Two pages with the same
    Tf/size state but different /Widths must each place their glyphs
    by their own widths: the document's advance-table memo must never
    serve one page's widths for the other page's font."""
    from tests.test_pdfstream import _minimal_pdf

    body = b"BT /F1 10 Tf 72 700 Td (a) Tj ET"

    def page(num: int, width: int) -> bytes:
        return (b"<< /Type /Page /Parent 2 0 R /Contents %d 0 R"
                b" /Resources << /Font << /F1 << /Type /Font"
                b" /Subtype /Type1 /BaseFont /Helvetica /FirstChar 97"
                b" /Widths [%d] >> >> >> >>" % (num, width))

    stream = b"<< /Length %d >>\nstream\n" % len(body) + body \
        + b"\nendstream"
    pdf = _minimal_pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Count 2 /Kids [3 0 R 4 0 R] >>",
        3: page(5, 500),
        4: page(6, 800),
        5: stream,
        6: stream,
    })
    pages = parse_pdf_layout_doc(pdf)["pages"]
    assert [[(w[0], w[1], w[2]) for w in words] for words, _ in pages] \
        == [[("a", 72.0, 77.0)], [("a", 72.0, 80.0)]]

    # the same hazard at the walk's own level: each _Font is dropped
    # before the next one is built, so CPython may hand the next font
    # the freed object's id; one memo shared by the document must
    # still place each glyph by its own font's widths
    from pdf_extractor_spark.ops.pdfstream import _Font, _extract_page

    tables: dict = {}
    ends = []
    for width in (500, 800, 500, 800):
        font = _Font()
        font.widths = [float(width)] * 256
        segs, _, _ = _extract_page(body, {"F1": font}, tables)
        del font
        ends.append(segs[0][3][0])
    assert ends == [77.0, 80.0, 77.0, 80.0]


@pytest.mark.parametrize("cap", ["MAX_INFLATE_STREAM", "MAX_INFLATE_DOC"])
def test_flate_bomb_counted_within_caps(monkeypatch, cap):
    """A FlateDecode stream that inflates past the per-stream cap, or
    past what is left of the per-document cap, is one counted decode
    failure on its page; the page before it still extracts and no
    exception escapes. Caps are lowered so the bomb stays small."""
    from pdf_extractor_spark.ops import pdfstream

    monkeypatch.setattr(pdfstream, cap, 64 << 10)
    page1 = b"BT /F1 11 Tf 72 720 Td (kept page) Tj ET\n" + b" " * (40 << 10)
    bomb = (b" " * (40 << 10) if cap == "MAX_INFLATE_DOC"
            else b" " * (1 << 20))
    streams = [zlib.compress(page1), zlib.compress(bomb)]
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Count 2 /Kids [3 0 R 4 0 R] >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>",
        4: b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>",
    }
    for num, data in zip((5, 6), streams):
        objs[num] = (b"<< /Filter /FlateDecode /Length %d >>\nstream\n"
                     % len(data) + data + b"\nendstream")
    pages = parse_pdf_doc(_classic_pdf(objs))
    assert [pg["text"] for pg in pages] == ["kept page", ""]
    assert sum(pg["decode_failures"] for pg in pages) == 1


def _within(seconds: float, fn, *args):
    """fn(*args), failing the test if it runs longer than `seconds`; a
    SIGALRM interrupts a runaway pure-Python walk instead of hanging
    the suite."""
    def expire(*_):
        raise TimeoutError(f"no return within {seconds} s")

    old = signal.signal(signal.SIGALRM, expire)
    signal.setitimer(signal.ITIMER_REAL, seconds)
    t0 = time.perf_counter()
    try:
        out = fn(*args)
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, old)
    assert time.perf_counter() - t0 < seconds
    return out


@pytest.mark.parametrize("kids", [b"[2 0 R 2 0 R 3 0 R]", b"[2 0 R 3 0 R]"],
                         ids=["self_twice", "self_once"])
def test_cyclic_page_tree_walks_each_node_once(kids):
    """A /Pages node listing itself in /Kids is walked once: listed
    twice, the walk used to double per level down to its depth cap
    (2^64 calls); listed once, it returned the one page 64 times. The
    job's front door (`layout_row`) walks the same tree."""
    objs = dict(_SIMPLE_OBJS)
    objs[2] = b"<< /Type /Pages /Count 1 /Kids %s >>" % kids
    pdf = _classic_pdf(objs)
    parsed = _within(1.0, parse_pdf_doc, pdf)
    assert [pg["text"] for pg in parsed] == ["offset drift"]
    assert parsed[0]["decode_failures"] == 0
    _html, text, n_pages, _n_words, failures = _within(1.0, layout_row, pdf)
    assert (text, n_pages, failures) == ("offset drift", 1, 0)


_HELLO = b"BT /F1 11 Tf 72 720 Td (Hello world) Tj ET"


def hostile_mediabox_pdf(case: str) -> bytes:
    """One-page "Hello world" PDF whose /MediaBox the parser cannot
    use: a `dangling` reference to an object the file lacks, an
    indirect box in the `truncated_tail` (the file is cut right before
    the box's object, so the object scan never sees it), or a
    `huge_coordinate` of 400 digits (past float range)."""
    box = {"dangling": b"9 0 R", "truncated_tail": b"5 0 R",
           "huge_coordinate": b"[0 0 612 " + b"9" * 400 + b"]"}[case]
    pdf = _classic_pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Count 1 /Kids [3 0 R] >>",
        3: (b"<< /Type /Page /Parent 2 0 R /MediaBox " + box
            + b" /Contents 4 0 R >>"),
        4: (b"<< /Length %d >>\nstream\n" % len(_HELLO) + _HELLO
            + b"\nendstream"),
        5: b"[0 0 612 792]",
    })
    if case == "truncated_tail":
        pdf = pdf[:pdf.index(b"5 0 obj")]
    return pdf


@pytest.mark.parametrize("case", ["dangling", "truncated_tail",
                                  "huge_coordinate"])
def test_hostile_mediabox_reads_as_letter(case):
    """A /MediaBox that cannot be resolved or converted reads as the
    792 pt default: both projections of the walk extract the page's
    text with no decode failure and agree on it. The extraction job's
    front door used to raise here (KeyError / OverflowError) and abort
    the whole `jobs.py --pdf-col` run."""
    pdf = hostile_mediabox_pdf(case)
    parsed = _within(1.0, parse_pdf_doc, pdf)
    assert [(pg["text"], pg["decode_failures"]) for pg in parsed] \
        == [("Hello world", 0)]
    html, text, n_pages, n_words, failures = _within(1.0, layout_row, pdf)
    assert (text, n_pages, n_words, failures) == ("Hello world", 1, 2, 0)
    assert html
    assert parse_pdf_layout_doc(pdf)["height"] == 792.0
    _never_raises(pdf)


def nul_glyph_pdf(source: str) -> bytes:
    """One-page PDF showing "a", a glyph that decodes to U+0000, "b":
    byte 0 through the `winansi` table, byte 65 through a
    `differences` entry naming uni0000, or CID 0 of a Type0 font whose
    `to_unicode` CMap maps it to <0000>."""
    font = {
        "winansi": b"<< /Type /Font /Subtype /Type1 >>",
        "differences": (b"<< /Type /Font /Subtype /Type1 /Encoding"
                        b" << /Differences [65 /uni0000] >> >>"),
        "to_unicode": (b"<< /Type /Font /Subtype /Type0"
                       b" /Encoding /Identity-H /ToUnicode 6 0 R >>"),
    }[source]
    show = {"winansi": b"(a\\000b)", "differences": b"(aAb)",
            "to_unicode": b"<006100000062>"}[source]
    body = b"BT /F1 11 Tf 72 720 Td " + show + b" Tj ET"
    cmap = (b"begincmap\n3 beginbfchar\n<0061> <0061>\n<0000> <0000>\n"
            b"<0062> <0062>\nendbfchar\nendcmap")
    return _classic_pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Count 1 /Kids [3 0 R] >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Resources"
            b" << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>"),
        4: b"<< /Length %d >>\nstream\n" % len(body) + body
           + b"\nendstream",
        5: font,
        6: b"<< /Length %d >>\nstream\n" % len(cmap) + cmap
           + b"\nendstream",
    })


@pytest.mark.parametrize("source", ["winansi", "differences",
                                    "to_unicode"])
def test_nul_glyph_reads_as_replacement(source):
    """A glyph that decodes to U+0000 reads as U+FFFD and counts one
    decode failure in both projections of the walk. NUL separates the
    layout payload's words, so such a glyph used to make `layout_row`
    raise and abort `jobs.py --pdf-col`."""
    pdf = nul_glyph_pdf(source)
    parsed = parse_pdf_doc(pdf)
    assert [(pg["text"], pg["decode_failures"]) for pg in parsed] \
        == [("a�b", 1)]
    html, text, n_pages, n_words, failures = layout_row(pdf)
    assert (text, n_pages, n_words, failures) == ("a�b", 1, 1, 1)
    assert [w[0] for w in decode_layout(html)[1][0]] == ["a�b"]
    _never_raises(pdf)
