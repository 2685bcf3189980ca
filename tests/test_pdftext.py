"""PDF text extraction: round-trip, grammar, hostile input.

The "PDF/layout parse" leg of the extraction family (north rule). The
generator (sources/pdfgen.py) and extractor (operators/pdftext.py) are
independent implementations meeting at the PDF 1.4 spec: the
round-trip equality below is a differential test of both.
"""

from __future__ import annotations

import math
import zlib

import pytest

from readabilitysax_spark.operators.pdftext import (
    _unescape_literal,
    extract_text_from_pdf,
)
from readabilitysax_spark.sources.pdfgen import expected_pdf_text, synth_pdf


@pytest.mark.parametrize(
    "text",
    [
        "",
        "hello",
        "a b c d e f g h",                        # exactly one line
        " ".join(f"w{i}" for i in range(40)),     # exactly one page
        " ".join(f"w{i}" for i in range(41)),     # page spill
        " ".join(f"tok{i}" for i in range(100)),  # 3 pages, Flate middle
        "par(en) back\\slash close)p",            # string escapes
        "a  b   c",                               # empty words survive
        "漢字 文書 解析 器 の 試験",                 # CJK → UTF-16BE hex strings
        "привет мир مرحبا بالعالم",               # Cyrillic + RTL Arabic
        "café mixed 漢字 ascii " + " ".join(f"w{i}" for i in range(45)),
    ],
)
def test_round_trip(text):
    got, n_pages = extract_text_from_pdf(synth_pdf(text))
    assert got == expected_pdf_text(text)
    assert n_pages == max(math.ceil(len(text.split(" ")) / 40), 1)


def test_audit_row_pdf_text_for_every_producer():
    """The PDF leg at the operator's level: ``audit_row`` over the reach
    census's PDF texts for doc ids 0-3 (the simple, CID, two-column and
    ObjStm producers) extracts exactly ``expected_pdf_text``."""
    import hashlib

    from readabilitysax_spark.operators import multimodal as mm

    from .test_reach import PDF_TEXTS

    for doc_id in range(4):
        for text in PDF_TEXTS:
            row = mm.audit_row(doc_id, text, mm.RESIZE_MAX_SIDE, mm.FRAME_EVERY_N)
            want = expected_pdf_text(text).encode("utf-8")
            assert row["pdf_ok"], (doc_id, text)
            assert row["pdf_text_md5"] == hashlib.md5(want).hexdigest(), (doc_id, text)
            assert row["n_pdf_pages"] == max(math.ceil(len(text.split(" ")) / 40), 1)


def test_flate_pages_really_compressed():
    """Alternate pages must actually go through zlib — assert the
    compressed page's line is absent as plaintext but extracted."""
    text = " ".join(f"zz{i}" for i in range(80))  # 2 pages
    pdf = synth_pdf(text)
    assert b"zz41" not in pdf  # page 2 content only exists compressed
    assert b"/FlateDecode" in pdf
    got, n_pages = extract_text_from_pdf(pdf)
    assert n_pages == 2 and "zz41" in got


def test_string_grammar():
    assert _unescape_literal(rb"a\(b\)c\\d").decode("latin-1") == "a(b)c\\d"
    assert _unescape_literal(rb"\101\102\60").decode("latin-1") == "AB0"


def test_hex_strings_and_td_linebreaks():
    """Hand-written PDF exercising <hex> strings and Tm line breaks."""
    content = (
        b"BT 1 0 0 1 72 720 Tm <48656C6C6F> Tj"
        b" 1 0 0 1 72 700 Tm (world) Tj ET"
    )
    pdf = (
        b"%%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length %d >>\nstream\n%s\nendstream endobj\n"
        b"trailer << /Root 1 0 R >>\n%%%%EOF\n" % (len(content), content)
    )
    got, n_pages = extract_text_from_pdf(pdf)
    assert (got, n_pages) == ("Hello\nworld", 1)


def test_hostile_inputs_error_or_degrade():
    with pytest.raises(ValueError):
        extract_text_from_pdf(b"not a pdf")
    with pytest.raises(ValueError):
        extract_text_from_pdf(b"")
    # corrupt /Length falls back to the endstream keyword
    ok = synth_pdf("x y z")
    got, _ = extract_text_from_pdf(ok.replace(b"/Length", b"/Lxngth"))
    assert got == "x y z"
    # truncated mid-stream: degrades, never raises
    extract_text_from_pdf(synth_pdf("a b c d e")[:80])
    # corrupt Flate payload: page skipped, others survive
    text = " ".join(f"q{i}" for i in range(80))
    pdf = bytearray(synth_pdf(text))
    at = pdf.find(b"stream\n", pdf.find(b"/FlateDecode")) + 10
    pdf[at] ^= 0xFF
    got, n_pages = extract_text_from_pdf(bytes(pdf))
    assert n_pages == 2 and "q0" in got


def test_stream_bytes_cannot_fake_objects():
    """Compressed bytes containing 'endobj'/'N 0 obj' patterns must not
    derail the sequential cursor (the classic findall-scanner bug)."""
    # craft a text whose compressed stream happens to contain 'endobj'
    # by brute force over a salt word
    for salt in range(5000):
        text = " ".join(f"s{salt}w{i}" for i in range(60))
        from readabilitysax_spark.sources.pdfgen import _content_stream, _page_lines
        comp = zlib.compress(_content_stream(_page_lines(text.split(" "), 1)))
        if b"endobj" in comp or b" 0 obj" in comp:
            break
    else:
        pytest.skip("no adversarial compression found in search budget")
    got, n_pages = extract_text_from_pdf(synth_pdf(text))
    assert got == expected_pdf_text(text) and n_pages == 2


def test_pdf_round_trip_fuzz():
    """Property: synth→extract is the identity composed with the
    8-word-line regrouping, for any space-free BMP words (the corpus
    text contract: single-space separated, BMP, no markup)."""
    from hypothesis import given, settings, strategies as st

    word = st.text(
        alphabet=st.characters(
            min_codepoint=32, max_codepoint=0xFFFF,
            blacklist_categories=("Cs",),  # no lone surrogates
        ),
        min_size=1, max_size=6,
    ).map(lambda s: s.replace(" ", "_"))

    from readabilitysax_spark.sources.pdfgen import synth_pdf_objstm

    @settings(max_examples=30, deadline=None)
    @given(st.lists(word, min_size=0, max_size=90), st.integers(0, 3))
    def prop(words, variant):
        text = " ".join(words)
        if variant == 3:
            pdf = synth_pdf_objstm(text)
        else:
            pdf = synth_pdf(text, columns=2 if variant == 2 else 1,
                            cid=variant == 1)
        got, n_pages = extract_text_from_pdf(pdf)
        assert got == expected_pdf_text(text)
        assert n_pages == max(math.ceil(len(text.split(" ")) / 40), 1)

    prop()


@pytest.mark.parametrize(
    "text",
    [
        "hello",
        " ".join(f"w{i}" for i in range(40)),    # 5 lines: 3 left, 2 right
        " ".join(f"w{i}" for i in range(100)),   # 3 pages, Flate middle
        "漢字 文書 解析 器 の 試験 plus latin words here to span lines " * 3,
    ],
)
def test_two_column_layout_reassembly(text):
    """Layout parse, not emission replay: the two-column variant draws
    rows INTERLEAVED (c1r0, c2r0, c1r1, …), so emission order is
    shuffled relative to reading order. Extraction must still equal the
    single-column expected text — proving the x-cluster / y-sort
    column-major reassembly actually runs."""
    pdf = synth_pdf(text, columns=2)
    got, n_pages = extract_text_from_pdf(pdf)
    assert got == expected_pdf_text(text)
    assert n_pages == max(math.ceil(len(text.split(" ")) / 40), 1)
    # sanity: the naive emission order really is shuffled for multi-line
    # pages (rules out the test passing vacuously)
    lines = expected_pdf_text(text).split("\n")
    if len(lines) >= 3:
        import re as _re
        shown = _re.findall(rb"\((?:\\.|[^)\\])*\)\s*Tj|<[0-9A-Fa-f]+>\s*Tj",
                            synth_pdf(text, columns=2))
        assert shown, "expected visible show operators"


@pytest.mark.parametrize("columns", [1, 2])
@pytest.mark.parametrize(
    "text",
    [
        "hello world",
        "漢字 文書 解析 器 の 試験 plus latin words",
        " ".join(f"w{i}" for i in range(100)),  # 3 pages
        "par(en) back\\slash",
    ],
)
def test_cid_tounicode_round_trip(columns, text):
    """CID mode shows 2-byte codes that deliberately differ from the
    codepoints — extraction is only correct if the /ToUnicode CMap
    (bfchar + array bfrange, Flate-compressed, named in the page's
    /Resources) is actually consulted, in either layout."""
    pdf = synth_pdf(text, columns=columns, cid=True)
    # the raw text must NOT appear in the document (codes ≠ codepoints)
    probe = text.split(" ")[0].encode("latin-1", "ignore")
    if len(probe) >= 2:
        assert probe not in pdf
    got, n_pages = extract_text_from_pdf(pdf)
    assert got == expected_pdf_text(text)
    assert n_pages == max(math.ceil(len(text.split(" ")) / 40), 1)


def test_cid_two_column_composition():
    """CID decode and two-column layout reassembly compose."""
    text = " ".join(f"w{i}" for i in range(40))
    got, _ = extract_text_from_pdf(synth_pdf(text, columns=2, cid=True))
    assert got == expected_pdf_text(text)


def _wrap_pdf(objects: list[bytes]) -> bytes:
    """1-indexed bodies → minimal PDF (no xref — the scanner never
    trusts one anyway)."""
    out = bytearray(b"%PDF-1.4\n")
    for i, body in enumerate(objects, start=1):
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    out += b"trailer << /Root 1 0 R >>\n%%EOF\n"
    return bytes(out)


def test_unmapped_cid_code_is_replacement_char():
    cmap = b"1 beginbfchar\n<0001> <0058>\nendbfchar\n"  # only 1 -> X
    content = b"BT /F1 12 Tf 72 720 Td <00010002> Tj ET"
    pdf = _wrap_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 5 0 R >> >> "
        b"/Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
        b"<< /Type /Font /Subtype /Type0 /ToUnicode 6 0 R >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(cmap), cmap),
    ])
    got, _ = extract_text_from_pdf(pdf)
    assert got == "X�"


def test_kids_array_defines_page_order():
    """Pages numbered OUT of document order: /Kids [5, 3] must win over
    ascending object ids (round-4 ADVICE)."""
    c1 = b"BT 72 720 Td (second) Tj ET"  # object 4, page object 3
    c2 = b"BT 72 720 Td (first) Tj ET"   # object 6, page object 5
    pdf = _wrap_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [5 0 R 3 0 R] /Count 2 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(c1), c1),
        b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(c2), c2),
    ])
    got, n_pages = extract_text_from_pdf(pdf)
    assert (got, n_pages) == ("first\nsecond", 2)


def test_broken_page_tree_falls_back_to_id_order():
    """A /Kids array that misses a scanned page → ascending-id order."""
    c1 = b"BT 72 720 Td (one) Tj ET"
    c2 = b"BT 72 720 Td (two) Tj ET"
    pdf = _wrap_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",  # forgets page 5
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(c1), c1),
        b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(c2), c2),
    ])
    got, n_pages = extract_text_from_pdf(pdf)
    assert (got, n_pages) == ("one\ntwo", 2)


def test_invalid_octal_escape_keeps_char():
    r"""\8 and \9 are not octal: the backslash drops, the digit stays
    (round-4 ADVICE — was a whole-document ValueError)."""
    assert _unescape_literal(rb"a\8b\9c").decode("latin-1") == "a8b9c"
    assert _unescape_literal(rb"\101\8").decode("latin-1") == "A8"


def test_single_column_unaffected_by_layout_rule():
    """Indented lines (small x offsets) must NOT be split into columns:
    only a gutter-sized gap (>150pt) forms a column boundary."""
    content = (
        b"BT 1 0 0 1 72 720 Tm (first) Tj"
        b" 1 0 0 1 100 706 Tm (indented) Tj"
        b" 1 0 0 1 72 692 Tm (back) Tj ET"
    )
    pdf = (
        b"%%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length %d >>\nstream\n%s\nendstream endobj\n"
        b"trailer << /Root 1 0 R >>\n%%%%EOF\n" % (len(content), content)
    )
    got, _ = extract_text_from_pdf(pdf)
    assert got == "first\nindented\nback"


@pytest.mark.parametrize(
    "text",
    [
        "hello world",
        " ".join(f"w{i}" for i in range(100)),  # 3 pages, all 3 filters
        "par(en) back\\slash close)p",
        "漢字 文書 mixed latin words",
    ],
)
def test_objstm_round_trip(text):
    """PDF 1.5 object streams: every dict object (Pages, font, page
    dicts) lives inside a Flate-compressed /ObjStm — invisible to the
    top-level scan without expansion — and the content streams rotate
    plain / ASCIIHexDecode / [ASCII85Decode FlateDecode] chains."""
    from readabilitysax_spark.sources.pdfgen import synth_pdf_objstm

    pdf = synth_pdf_objstm(text)
    assert b"/ObjStm" in pdf and b"/Type /Page" not in pdf.replace(
        b"/Type /Pages", b""
    )  # page dicts really are hidden inside the compressed stream
    got, n_pages = extract_text_from_pdf(pdf)
    assert got == expected_pdf_text(text)
    assert n_pages == max(math.ceil(len(text.split(" ")) / 40), 1)


def test_objstm_direct_object_wins_over_compressed():
    """A direct top-level definition must not be overwritten by an
    ObjStm copy of the same object id (we trust no xref; direct wins)."""
    from readabilitysax_spark.operators.pdftext import _parse_objects

    payload = b"7 0\n<< /Decoy true >>\n"
    comp = zlib.compress(payload)
    pdf = (
        b"%PDF-1.5\n"
        b"7 0 obj\n<< /Real true >>\nendobj\n"
        + (b"9 0 obj\n<< /Type /ObjStm /N 1 /First 4 /Length %d "
           b"/Filter /FlateDecode >>\nstream\n" % len(comp))
        + comp + b"\nendstream\nendobj\n"
    )
    objs = _parse_objects(pdf)
    assert b"/Real" in objs[7][0]


def test_unknown_filter_skips_stream_not_document():
    """A /DCTDecode (image) content stream must not error the document:
    its page extracts nothing, other pages still extract."""
    c1 = b"BT 72 720 Td (kept) Tj ET"
    pdf = _wrap_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(c1), c1),
        b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>",
        b"<< /Length 4 /Filter /DCTDecode >>\nstream\n\xff\xd8\xff\xe0\nendstream",
    ])
    got, n_pages = extract_text_from_pdf(pdf)
    assert (got, n_pages) == ("kept", 2)


def test_hostile_tounicode_cmaps_never_raise():
    """Property: arbitrary garbage CMap bytes must parse to SOME map
    without raising (foreign PDFs carry wild CMaps)."""
    from hypothesis import example, given, settings, strategies as st

    from readabilitysax_spark.operators.pdftext import _parse_tounicode

    @settings(max_examples=80, deadline=None)
    @given(st.binary(max_size=400))
    @example(b"<01> <041> <02> <0042004300>")  # dst not whole UTF-16 units
    def prop(blob):
        cmap, width = _parse_tounicode(
            b"begincodespacerange <00> <FF> endcodespacerange"
            b"beginbfchar" + blob + b"endbfchar"
            b"beginbfrange" + blob + b"endbfrange"
        )
        assert width == 1
        assert all(isinstance(k, int) and isinstance(v, str)
                   for k, v in cmap.items())

    prop()


def test_bfrange_expansion_is_capped():
    """A hostile <00000000> <FFFFFFFF> range maps at most 2^16 + 1
    codes, however many destinations its array lists."""
    from readabilitysax_spark.operators.pdftext import (
        _MAX_BFRANGE,
        _parse_tounicode,
    )

    dsts = b" ".join([b"<0041>"] * (_MAX_BFRANGE + 10))
    cmap, _ = _parse_tounicode(
        b"1 beginbfrange\n<00000000> <FFFFFFFF> [" + dsts + b"]\nendbfrange\n"
    )
    assert len(cmap) == _MAX_BFRANGE + 1


def test_objstm_many_pages_no_id_collision():
    """Review finding (round 5): object ids used to collide at ≥96
    pages (page ids ran into the fixed ObjStm/content id bases),
    silently losing pages. Ids are now sized to the document."""
    from readabilitysax_spark.sources.pdfgen import synth_pdf_objstm

    text = " ".join(f"w{i}" for i in range(40 * 97))  # 97 pages
    got, n_pages = extract_text_from_pdf(synth_pdf_objstm(text))
    assert n_pages == 97
    assert got == expected_pdf_text(text)


def test_cid_truncated_trailing_code_yields_replacement():
    """A show string whose byte length is not a multiple of the code
    width surfaces U+FFFD for the partial tail instead of dropping it."""
    cmap = b"1 beginbfchar\n<0001> <0058>\nendbfchar\n"
    content = b"BT /F1 12 Tf 72 720 Td <000155> Tj ET"  # 3 bytes, w=2
    pdf = _wrap_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 5 0 R >> >> "
        b"/Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
        b"<< /Type /Font /Subtype /Type0 /ToUnicode 6 0 R >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(cmap), cmap),
    ])
    got, _ = extract_text_from_pdf(pdf)
    assert got == "X�"


def test_shared_cmap_parsed_once_per_document(monkeypatch):
    """Review finding (round 5): a shared font's ToUnicode CMap was
    re-inflated and re-parsed per page; now memoized per document."""
    from readabilitysax_spark.operators import pdftext as P

    calls = {"n": 0}
    orig = P._parse_tounicode

    def counting(stream):
        calls["n"] += 1
        return orig(stream)

    monkeypatch.setattr(P, "_parse_tounicode", counting)
    text = " ".join(f"w{i}" for i in range(40 * 5))  # 5 pages, one font
    got, n_pages = P.extract_text_from_pdf(synth_pdf(text, cid=True))
    assert n_pages == 5 and got == expected_pdf_text(text)
    assert calls["n"] == 1


def test_flate_bomb_is_capped_not_inflated():
    """Round-5 ADVICE: a KB-sized FlateDecode bomb must not inflate to
    GBs in the worker — past the 256 MB cap the stream reads as
    undecodable (None); malformed input still raises like one-shot
    zlib.decompress; normal streams round-trip unchanged."""
    import zlib

    from readabilitysax_spark.operators import pdftext as P

    head = b"<</Filter /FlateDecode>>"
    normal = b"hello pdf stream " * 100
    assert P._decode_stream(head, zlib.compress(normal)) == normal
    bomb = zlib.compress(b"\x00" * (300 << 20), 9)  # ~300 MB from ~300 KB
    assert len(bomb) < (1 << 21)
    assert P._decode_stream(head, bomb) is None
    import pytest as _pytest
    with _pytest.raises(zlib.error):
        P._decode_stream(head, zlib.compress(normal)[:-4])
    with _pytest.raises(zlib.error):
        P._decode_stream(head, b"not deflate at all")
