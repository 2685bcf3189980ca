"""Deterministic minimal-PDF synthesis: the documents → pdfs bridge.

The north rule's extraction family covers "HTML boilerplate strip,
PDF/layout parse, DOM heuristics"; this module provides the PDF leg's
test substrate the same way ``sources/pagegen.py`` provides the HTML
leg's: a deterministic generator whose output an ANSI-SQL oracle can
predict from the ``documents`` table alone.

``synth_pdf(text)`` renders ``text`` as a well-formed PDF 1.4:

- words are laid out **8 per line, 5 lines per page** (40 words/page,
  at least one page even for empty text) — the layout the extractor
  must reassemble;
- line i of each page alternates the three text-showing operator forms
  (``Tj``, ``TJ`` arrays with kerning numbers, ``'`` move-and-show) so
  every decode path in ``operators/pdftext.py`` is exercised on every
  page;
- every second page's content stream is ``/FlateDecode`` compressed
  (zlib — stdlib, REAL compression round-trip, not a stub);
- latin-1 lines are literal strings escaping ``( ) \\`` and control
  bytes as octal; lines with wider characters (CJK/Cyrillic/Arabic)
  become ``<FEFF…>`` UTF-16BE-with-BOM hex strings (the PDF
  text-string convention, ISO 32000 §7.9.2.2), so the round trip is
  exact for all BMP text.

The expected extraction is therefore a pure function of ``text``:
words regrouped into 8-word lines joined by ``\\n``, pages joined by
``\\n`` — expressible in DuckDB as a list comprehension over
``string_split(text, ' ')`` (see the media_pipeline oracle).
"""

from __future__ import annotations

import zlib

WORDS_PER_LINE = 8
LINES_PER_PAGE = 5
WORDS_PER_PAGE = WORDS_PER_LINE * LINES_PER_PAGE


def _pdf_string(s: str) -> bytes:
    """PDF string for a shown line: latin-1 text becomes a literal
    ``(...)`` with specials escaped and control bytes octal-escaped;
    anything wider becomes a ``<FEFF…>`` hex string in UTF-16BE with
    BOM — the PDF *text-string* convention (ISO 32000 §7.9.2.2)
    applied to show-strings, which is what keeps the round trip exact
    for CJK/Cyrillic/Arabic without a CID font stack (the extractor
    detects the BOM)."""
    if any(ord(ch) > 255 for ch in s):
        return b"<" + ("\ufeff" + s).encode("utf-16-be").hex().encode("ascii") + b">"
    out = bytearray(b"(")
    for ch in s:
        b = ord(ch)
        if ch in "()\\":
            out += b"\\" + ch.encode("ascii")
        elif 32 <= b <= 126:
            out.append(b)
        else:
            out += ("\\%03o" % b).encode("ascii")
    out += b")"
    return bytes(out)


def _cid_codes(text: str) -> dict[str, int]:
    """Deterministic char → 2-byte CID code table for a document: the
    text's unique characters in codepoint order get codes 1..N. The
    codes deliberately do NOT equal the codepoints — extraction is only
    correct if the ToUnicode CMap is actually consulted."""
    return {ch: i + 1 for i, ch in enumerate(sorted(set(text or " ")))}


def _cid_string(s: str, codes: dict[str, int]) -> bytes:
    """Show-string under the CID font: hex string of 2-byte codes."""
    return b"<" + b"".join(b"%04X" % codes[ch] for ch in s) + b">"


def _tounicode_cmap(codes: dict[str, int]) -> bytes:
    """ToUnicode CMap stream: 2-byte codespace, the first few mappings
    as ``bfchar`` pairs, the rest as ARRAY-form ``bfrange`` chunks —
    so both extractor paths are exercised by every CID document."""
    items = sorted(codes.items(), key=lambda kv: kv[1])  # by code
    n_char = min(4, len(items))
    parts = [
        b"/CIDInit /ProcSet findresource begin\n"
        b"begincmap\n"
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
    ]
    if n_char:
        parts.append(b"%d beginbfchar\n" % n_char)
        for ch, code in items[:n_char]:
            parts.append(
                b"<%04X> <%s>\n"
                % (code, ch.encode("utf-16-be").hex().upper().encode("ascii"))
            )
        parts.append(b"endbfchar\n")
    rest = items[n_char:]
    for at in range(0, len(rest), 16):
        chunk = rest[at:at + 16]
        parts.append(
            b"1 beginbfrange\n<%04X> <%04X> ["
            % (chunk[0][1], chunk[-1][1])
        )
        parts.append(b" ".join(
            b"<%s>" % ch.encode("utf-16-be").hex().upper().encode("ascii")
            for ch, _ in chunk
        ))
        parts.append(b"]\nendbfrange\n")
    parts.append(b"endcmap\nend\n")
    return b"".join(parts)


def _page_lines(words: list[str], page: int) -> list[str]:
    start = page * WORDS_PER_PAGE
    chunk = words[start:start + WORDS_PER_PAGE]
    return [
        " ".join(chunk[i:i + WORDS_PER_LINE])
        for i in range(0, len(chunk), WORDS_PER_LINE)
    ]


def _content_stream(lines: list[str], enc=_pdf_string, font=b"F1") -> bytes:
    """BT … ET with the operator form rotating per line."""
    # 14 TL sets the leading the ' operator consumes (real viewers
    # need it; the extractor treats ' as line-advance regardless)
    parts = [b"BT", b"/" + font + b" 12 Tf", b"14 TL", b"72 720 Td"]
    for i, line in enumerate(lines):
        if i > 0:
            parts.append(b"0 -14 Td")
        form = i % 3
        if form == 0:
            parts.append(enc(line) + b" Tj")
        elif form == 1:
            # TJ: split the line into two array elements with a kerning
            # number between them; the kerning carries NO spacing
            # semantics in our extractor (standard simple-extractor rule)
            mid = max(len(line) // 2, 0)
            parts.append(
                b"[" + enc(line[:mid]) + b" -30 "
                + enc(line[mid:]) + b"] TJ"
            )
        else:
            # ' — move-to-next-line-and-show; REPLACES the 0 -14 Td we
            # would otherwise emit, so strip it again
            if parts[-1] == b"0 -14 Td":
                parts.pop()
            parts.append(enc(line) + b" '")
    parts.append(b"ET")
    return b"\n".join(parts)


def _content_stream_two_col(lines: list[str], enc=_pdf_string, font=b"F1") -> bytes:
    """Two-column layout DRAWN ROW-MAJOR: the page's lines split into a
    left column (x=72) and a right column (x=320), but the draw order
    interleaves rows (c1r0, c2r0, c1r1, …) via absolute ``Tm`` jumps.
    Reading order is column-major, so an extractor that replays
    emission order produces shuffled text — only the x-cluster /
    y-sort layout reassembly in ``operators/pdftext.py`` round-trips
    this stream back to the original line order."""
    parts = [b"BT", b"/" + font + b" 12 Tf"]
    n1 = (len(lines) + 1) // 2
    col1, col2 = lines[:n1], lines[n1:]
    for r in range(max(len(col1), len(col2))):
        y = 720 - 14 * r
        if r < len(col1):
            parts.append(b"1 0 0 1 72 %d Tm " % y + enc(col1[r]) + b" Tj")
        if r < len(col2):
            parts.append(b"1 0 0 1 320 %d Tm " % y + enc(col2[r]) + b" Tj")
    parts.append(b"ET")
    return b"\n".join(parts)


def synth_pdf(text: str, columns: int = 1, cid: bool = False) -> bytes:
    """Deterministic PDF bytes for one document. ``columns=2`` lays
    every page out as a row-major-drawn two-column spread (see
    ``_content_stream_two_col``); ``cid=True`` shows every string under
    a Type0 /Identity-H composite font as 2-byte CID codes that do NOT
    equal the codepoints, with a Flate-compressed /ToUnicode CMap
    (bfchar + array-form bfrange) carrying the real mapping. In every
    mode the expected extraction is IDENTICAL (``expected_pdf_text``)
    — that invariance is the layout-parse / font-decode test."""
    words = text.split(" ")
    n_pages = max((len(words) + WORDS_PER_PAGE - 1) // WORDS_PER_PAGE, 1)

    objects: list[bytes] = []  # 1-indexed object bodies (without N 0 obj)
    page_obj_ids = []
    content_obj_ids = []
    # object layout: 1=Catalog, 2=Pages, 3=Font[, 4=ToUnicode, 5=CID
    # font], then per page (page, content)
    next_id = 6 if cid else 4
    for p in range(n_pages):
        page_obj_ids.append(next_id)
        content_obj_ids.append(next_id + 1)
        next_id += 2

    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")  # 1
    kids = b" ".join(b"%d 0 R" % i for i in page_obj_ids)
    objects.append(
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages
    )  # 2
    objects.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )  # 3

    codes = _cid_codes(text) if cid else None
    if cid:
        comp = zlib.compress(_tounicode_cmap(codes))
        objects.append(
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(comp)
            + comp + b"\nendstream"
        )  # 4
        objects.append(
            b"<< /Type /Font /Subtype /Type0 /BaseFont /SynthCID "
            b"/Encoding /Identity-H /ToUnicode 4 0 R >>"
        )  # 5

    if cid:
        enc, font = (lambda s: _cid_string(s, codes)), b"F2"
        font_res = b"/F1 3 0 R /F2 5 0 R"
    else:
        enc, font = _pdf_string, b"F1"
        font_res = b"/F1 3 0 R"

    for p in range(n_pages):
        objects.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << " + font_res + b" >> >> "
            b"/Contents %d 0 R >>" % content_obj_ids[p]
        )
        page_lines = _page_lines(words, p)
        if columns == 2:
            stream = _content_stream_two_col(page_lines, enc, font)
        else:
            stream = _content_stream(page_lines, enc, font)
        if p % 2 == 1:  # alternate pages are Flate-compressed
            comp = zlib.compress(stream)
            objects.append(
                b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(comp)
                + comp + b"\nendstream"
            )
        else:
            objects.append(
                b"<< /Length %d >>\nstream\n" % len(stream)
                + stream + b"\nendstream"
            )

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objects) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objects) + 1, xref_at)
    )
    return bytes(out)


def _a85(data: bytes) -> bytes:
    import base64

    return base64.a85encode(data) + b"~>"


def synth_pdf_objstm(text: str) -> bytes:
    """PDF 1.5-style variant: ALL dictionary objects (Pages node, font,
    every page dict) live inside one Flate-compressed ``/Type /ObjStm``
    object stream — invisible to a top-level ``N 0 obj`` scan, the way
    modern producers write PDFs — and the content streams rotate
    through the text-bearing filter set (plain, ``/ASCIIHexDecode``,
    ``[/ASCII85Decode /FlateDecode]`` chain). Expected extraction is
    IDENTICAL to ``synth_pdf`` (``expected_pdf_text``)."""
    words = text.split(" ")
    n_pages = max((len(words) + WORDS_PER_PAGE - 1) // WORDS_PER_PAGE, 1)
    # ids sized to the document: pages 4..3+n, contents 4+n..3+2n,
    # ObjStm last — no collisions at any page count
    page_ids = [4 + p for p in range(n_pages)]
    content_ids = [4 + n_pages + p for p in range(n_pages)]
    objstm_id = 4 + 2 * n_pages

    # sub-objects packed into the ObjStm: Pages(2), Font(3), page dicts
    kids = b" ".join(b"%d 0 R" % i for i in page_ids)
    subs: list[tuple[int, bytes]] = [
        (2, b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages),
        (3, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
    ]
    for p in range(n_pages):
        subs.append((
            page_ids[p],
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> "
            b"/Contents %d 0 R >>" % content_ids[p],
        ))
    bodies = b""
    header_parts = []
    for oid, body in subs:
        header_parts.append(b"%d %d" % (oid, len(bodies)))
        bodies += body + b"\n"
    header = b" ".join(header_parts) + b"\n"
    payload = header + bodies
    comp = zlib.compress(payload)

    chunks: list[tuple[int, bytes]] = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (objstm_id,
         b"<< /Type /ObjStm /N %d /First %d /Length %d /Filter /FlateDecode >>"
         b"\nstream\n" % (len(subs), len(header), len(comp))
         + comp + b"\nendstream"),
    ]
    for p in range(n_pages):
        stream = _content_stream(_page_lines(words, p))
        form = p % 3
        if form == 1:
            enc = stream.hex().upper().encode("ascii") + b">"
            head = b"<< /Length %d /Filter /ASCIIHexDecode >>" % len(enc)
        elif form == 2:
            enc = _a85(zlib.compress(stream))
            head = (b"<< /Length %d /Filter [/ASCII85Decode /FlateDecode] >>"
                    % len(enc))
        else:
            enc = stream
            head = b"<< /Length %d >>" % len(enc)
        chunks.append((content_ids[p], head + b"\nstream\n" + enc + b"\nendstream"))

    out = bytearray(b"%PDF-1.5\n")
    for oid, body in chunks:
        out += b"%d 0 obj\n" % oid + body + b"\nendobj\n"
    out += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    return bytes(out)


def synth_doc_pdf(doc_id: int, text: str) -> bytes:
    """The PDF of one documents row. The producer rotates by doc_id so
    every decode path is exercised: doc_id%4==1 → Type0/Identity-H CID
    font with a ToUnicode CMap, ==2 → two-column layout, ==3 → /ObjStm
    document, else the simple single-column form. Extracted text is
    the same for all four (``expected_pdf_text``)."""
    if doc_id % 4 == 3:
        return synth_pdf_objstm(text)
    return synth_pdf(
        text, columns=2 if doc_id % 4 == 2 else 1, cid=doc_id % 4 == 1
    )


def expected_pdf_text(text: str) -> str:
    """The extraction the synthesized PDF must round-trip to: words in
    8-word lines joined by newlines, pages joined by newlines (i.e.
    ALL lines joined by "\\n" — page boundaries are line boundaries)."""
    words = text.split(" ")
    lines = [
        " ".join(words[i:i + WORDS_PER_LINE])
        for i in range(0, len(words), WORDS_PER_LINE)
    ]
    return "\n".join(lines)
