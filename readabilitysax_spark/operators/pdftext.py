"""PDF text extraction over Arrow batches — the "PDF/layout parse" leg
of the extraction family (north rule: "HTML boilerplate strip,
PDF/layout parse, DOM heuristics").

A REAL pure-stdlib extractor for the PDFs of ``sources/pdfgen.py``, its
only producer here: sequential object scan (no xref trust — robust to
truncated/corrupt cross-reference tables) with PDF 1.5 ``/ObjStm``
object-stream expansion (modern producers put page/font dicts inside
compressed object streams), page order from the ``/Catalog → /Pages →
/Kids`` tree (object-id fallback), stream ``/Filter`` chains decoded in
array order (``FlateDecode``, ``ASCIIHexDecode``, ``ASCII85Decode``; a
content stream under another filter is skipped), and a content-stream
tokenizer covering the text-showing operators ``Tj``, ``TJ`` (array
form with kerning numbers) and ``'``, the positioning operators
``Td``/``TL``/``Tm`` and font selection ``Tf``. Literal strings unescape
``\\(`` ``\\)`` ``\\\\`` and octal escapes. Show-string decoding is
font-aware: composite (CID) fonts with a ``/ToUnicode`` CMap
(``bfchar`` + array-form ``bfrange``) decode fixed-width codes to
unicode; simple fonts use the UTF-16BE-BOM text-string convention,
else latin-1 bytes.

Disclosed boundary: the parser reads the structures ``pdfgen.py``
writes — one ``/Contents`` stream per page, fonts named in an inline
``/Resources << /Font << … >> >>`` dict of the page itself, literal
strings whose parentheses are escaped, even-length hex strings. It
does not read ``/Contents`` arrays, resources inherited through
``/Parent``, indirect
``/Resources`` or ``/Font`` references, the scalar ``bfrange`` form,
the letter escapes (``\\n`` ``\\t`` …; the backslash drops and the
letter stays, as for ``\\8``) and line continuations of literal
strings, unescaped nested parentheses, odd-length hex strings, inline
``<<…>>`` dicts and ``%`` comments in content streams, the ``TD``,
``T*`` and ``"`` operators, encrypted documents, or LZW and predictor
filters. Hostile-input bounds: a single /ObjStm is expanded up to
50,000 sub-objects (real producers pack tens to hundreds), and any one
FlateDecode stream inflates to at most 256 MB (a KB-sized deflate bomb
is treated as undecodable instead of filling the Arrow worker;
legitimate text-bearing streams are orders of magnitude smaller).

Spark shape: this module is pure Python and has no Spark operator of
its own. ``multimodal.media_audit`` runs ``extract_text_from_pdf`` per
row inside its one zero-shuffle ``mapInArrow`` pass, where a malformed
document becomes an error row (``pdf_ok=false``), never an exception
(the get-url.ts:33-44 pattern).
"""

from __future__ import annotations

import re
import zlib
from collections.abc import Iterator

_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b", re.S)
_STREAM_RE = re.compile(rb"stream\r?\n")
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+\d+\s+R")
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_PAGE_RE = re.compile(rb"/Type\s*/Page\b(?!s)")

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


def _parse_objects(data: bytes) -> dict[int, tuple[bytes, bytes | None]]:
    """object id → (dict/body bytes, raw stream bytes or None).

    SEQUENTIAL cursor scan: each ``N 0 obj`` is consumed in order and
    stream payloads are jumped over via the declared ``/Length`` (with
    an ``endstream``-keyword fallback for malformed lengths), so byte
    patterns INSIDE compressed streams can never be misread as object
    or keyword boundaries — the classic failure of findall-style PDF
    scanners. No xref trust anywhere (robust to truncated/corrupt
    cross-reference tables)."""
    objs: dict[int, tuple[bytes, bytes | None]] = {}
    pos, n = 0, len(data)
    while True:
        m = _OBJ_RE.search(data, pos)
        if m is None:
            break
        oid = int(m.group(1))
        sm = _STREAM_RE.search(data, m.end())
        eo = data.find(b"endobj", m.end())
        if sm is not None and (eo < 0 or sm.start() < eo):
            head = data[m.end():sm.start()]
            body_start = sm.end()
            stream = None
            lm = re.search(rb"/Length\s+(\d+)\b", head)
            if lm is not None:
                ln = int(lm.group(1))
                tail = data[body_start + ln:body_start + ln + 12]
                if body_start + ln <= n and tail.lstrip(b"\r\n").startswith(b"endstream"):
                    stream = data[body_start:body_start + ln]
                    nxt = data.find(b"endobj", body_start + ln)
                    pos = nxt + 6 if nxt >= 0 else n
            if stream is None:
                se = data.find(b"endstream", body_start)
                se = se if se >= 0 else n
                stream = data[body_start:se].rstrip(b"\r\n")
                nxt = data.find(b"endobj", se)
                pos = nxt + 6 if nxt >= 0 else n
            objs[oid] = (head, stream)
        else:
            eo = eo if eo >= 0 else n
            objs[oid] = (data[m.end():eo], None)
            pos = eo + 6
    _expand_object_streams(objs)
    return objs


_FILTER_RE = re.compile(rb"/Filter\s*(?:\[(.*?)\]|/(\w+))", re.S)
_FILTER_NAME_RE = re.compile(rb"/(\w+)")
_MAX_OBJSTM_OBJS = 50_000  # per-ObjStm sub-object cap (hostile input)
_MAX_STREAM_BYTES = 256 << 20  # per-stream inflate cap (hostile input)


def _decode_stream(head: bytes, stream: bytes) -> bytes | None:
    """Apply the stream's ``/Filter`` chain (array order = decode
    order, ISO 32000 §7.4): FlateDecode, ASCIIHexDecode, ASCII85Decode
    — the filters real text-bearing streams use. Unknown filters
    (DCT, JBIG2, LZW, predictors) → None; malformed payloads raise.
    Either way a content stream's page extracts no text; in an ObjStm
    or a CMap, the document becomes an error row."""
    m = _FILTER_RE.search(head)
    if m is None:
        return stream
    if m.group(1) is not None:
        names = [x.decode("ascii") for x in _FILTER_NAME_RE.findall(m.group(1))]
    else:
        names = [m.group(2).decode("ascii")]
    for f in names:
        if f == "FlateDecode":
            # chunked inflate with a total-output cap: a KB-sized
            # hostile FlateDecode bomb must not inflate to GBs inside
            # the Arrow worker (round-5 ADVICE). Past the cap the
            # stream is treated as undecodable (None) and the caller's
            # per-stream degradation path applies; malformed/truncated
            # input still raises zlib.error exactly like the previous
            # one-shot zlib.decompress.
            d = zlib.decompressobj()
            out = bytearray()
            data = stream
            while not d.eof:
                chunk = d.decompress(data, 1 << 20)
                out += chunk
                if len(out) > _MAX_STREAM_BYTES:
                    return None
                data = d.unconsumed_tail
                if not chunk and not data and not d.eof:
                    raise zlib.error(
                        "incomplete or truncated FlateDecode stream"
                    )
            stream = bytes(out)
        elif f == "ASCIIHexDecode":
            hx = stream.split(b">")[0]
            hx = re.sub(rb"[^0-9A-Fa-f]", b"", hx)
            stream = bytes.fromhex(hx.decode("ascii"))
        elif f == "ASCII85Decode":
            import base64

            s = re.sub(rb"\s", b"", stream)
            end = s.find(b"~>")
            if end >= 0:
                s = s[:end]
            stream = base64.a85decode(s)
        else:
            return None
    return stream


def _expand_object_streams(objs: dict[int, tuple[bytes, bytes | None]]) -> None:
    """PDF 1.5 object streams (ISO 32000 §7.5.7): a ``/Type /ObjStm``
    stream holds N streamless sub-objects — modern producers put page
    and font DICTS there, invisible to a top-level scan. The decoded
    stream starts with N (objnum, offset) integer pairs; bodies begin
    at /First. Sub-objects are added WITHOUT overwriting top-level
    definitions (no xref is trusted; a direct ``N 0 obj`` wins over a
    compressed copy)."""
    for oid in list(objs):
        head, stream = objs[oid]
        if stream is None or not re.search(rb"/Type\s*/ObjStm\b", head):
            continue
        data = _decode_stream(head, stream)
        n_objs = int(re.search(rb"/N\s+(\d+)", head).group(1))
        first = int(re.search(rb"/First\s+(\d+)", head).group(1))
        header = data[:first].split()
        # hostile-input bound: 2·_MAX_OBJSTM_OBJS header ints (spec has
        # no limit; real ObjStms hold tens to hundreds of objects —
        # disclosed in the module docstring)
        pairs = [
            (int(header[k]), int(header[k + 1]))
            for k in range(0, min(2 * n_objs, len(header) - 1, 2 * _MAX_OBJSTM_OBJS), 2)
        ]
        for idx, (sub_oid, off) in enumerate(pairs):
            end = (
                first + pairs[idx + 1][1]
                if idx + 1 < len(pairs)
                else len(data)
            )
            if 0 <= first + off <= end <= len(data):
                objs.setdefault(sub_oid, (data[first + off:end], None))


_ESCAPE_RE = re.compile(rb"\\(?:([0-7]{1,3})|(.))")


def _unescape_literal(tok: bytes) -> bytes:
    """PDF literal string body (without outer parens) → raw bytes. An
    octal escape is its byte; any other escaped character stands for
    itself (``\\(`` ``\\)`` ``\\\\``; ``\\8`` too, per ISO 32000
    §7.3.4.2, where an unrecognized escape drops the backslash)."""
    return _ESCAPE_RE.sub(
        lambda m: bytes([int(m[1], 8) & 0xFF]) if m[1] else m[2], tok)


def _tokenize_content(stream: bytes) -> Iterator[tuple[str, object]]:
    """Yield ('str', raw bytes) | ('num', float) | ('op', name) |
    ('name', name) | ('arr', list). Strings stay RAW here — decoding
    depends on the currently-selected font (a CID font's ToUnicode
    CMap vs the latin-1 / UTF-16BE-BOM simple-font default), which
    only the extraction loop tracks (via Tf)."""
    i, n = 0, len(stream)
    arr_stack: list[list] = []

    def emit(kind, val):
        if arr_stack:
            arr_stack[-1].append((kind, val))
            return None
        return (kind, val)

    while i < n:
        b = stream[i]
        if b in _WS:
            i += 1
            continue
        if b == 0x28:  # ( literal string, up to the first unescaped )
            j = i + 1
            while j < n and stream[j] != 0x29:
                j += 2 if stream[j] == 0x5C else 1
            t = emit("str", _unescape_literal(stream[i + 1:j]))
            i = j + 1
            if t:
                yield t
            continue
        if b == 0x3C:  # <hex>
            j = stream.find(b">", i + 1)
            j = n if j < 0 else j
            hx = re.sub(rb"[^0-9A-Fa-f]", b"", stream[i + 1:j])
            t = emit("str", bytes.fromhex(hx.decode("ascii")))
            i = j + 1
            if t:
                yield t
            continue
        if b == 0x5B:  # [
            arr_stack.append([])
            i += 1
            continue
        if b == 0x5D:  # ]
            items = arr_stack.pop() if arr_stack else []
            t = emit("arr", items)
            i += 1
            if t:
                yield t
            continue
        if b == 0x2F:  # /Name — surfaced so Tf can track font selection
            j = i + 1
            while j < n and stream[j] not in _WS and stream[j] not in _DELIM:
                j += 1
            t = emit("name", stream[i + 1:j].decode("latin-1", "replace"))
            i = j
            if t:
                yield t
            continue
        # number or operator
        j = i
        while j < n and stream[j] not in _WS and stream[j] not in _DELIM:
            j += 1
        word = stream[i:j]
        i = j if j > i else i + 1
        try:
            t = emit("num", float(word))
        except ValueError:
            t = emit("op", word.decode("latin-1", "replace"))
        if t:
            yield t


_HEX_RE = re.compile(rb"<([0-9A-Fa-f]+)>")
_BFRANGE_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*\[([^\]]*)\]")
_MAX_BFRANGE = 1 << 16  # hostile-input cap on one range's expansion


def _utf16be_hex_to_str(hx: bytes) -> str:
    if len(hx) % 4:
        hx = hx + b"0" * (4 - len(hx) % 4)
    return bytes.fromhex(hx.decode("ascii")).decode("utf-16-be", "replace")


def _parse_tounicode(stream: bytes) -> tuple[dict[int, str], int]:
    """ToUnicode CMap stream → (code → unicode string, code byte width).

    Covers the CMap subset ``pdfgen`` writes (ISO 32000 §9.10.3 / Adobe
    CMap spec): ``begincodespacerange`` (code width), ``beginbfchar``
    pairs ``<src> <dst>``, and ``beginbfrange`` in the array form
    ``<lo> <hi> [<d0> <d1> …]``. dst hex is UTF-16BE (may map one code
    to a multi-code-unit string). Range expansion is capped at 2^16
    codes per entry (hostile input)."""
    cmap: dict[int, str] = {}
    width = 2
    m = re.search(rb"begincodespacerange\s*<([0-9A-Fa-f]+)>", stream)
    if m is not None:
        width = max(len(m.group(1)) // 2, 1)
    for sec in re.findall(rb"beginbfchar(.*?)endbfchar", stream, re.S):
        toks = _HEX_RE.findall(sec)
        for src, dst in zip(toks[0::2], toks[1::2]):
            cmap[int(src, 16)] = _utf16be_hex_to_str(dst)
    for sec in re.findall(rb"beginbfrange(.*?)endbfrange", stream, re.S):
        for lo, hi, dsts in _BFRANGE_RE.findall(sec):
            lo = int(lo, 16)
            codes = range(lo, min(int(hi, 16), lo + _MAX_BFRANGE) + 1)
            for code, dst in zip(codes, _HEX_RE.findall(dsts)):
                cmap[code] = _utf16be_hex_to_str(dst)
    return cmap, width


_FONT_DICT_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.S)
_FONT_REF_RE = re.compile(rb"/([^\s/<>\[\]()]+)\s+(\d+)\s+\d+\s+R")
_TOUNICODE_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+\d+\s+R")


def _page_fonts(
    page_body: bytes,
    objs: dict[int, tuple[bytes, bytes | None]],
    cmap_cache: dict[int, tuple[dict[int, str], int]],
) -> dict[str, tuple[dict[int, str], int]]:
    """Font-name → (ToUnicode cmap, code width) for a page, read from
    the page's own inline ``/Resources << /Font << … >> >>`` dict.
    Only fonts WITH a /ToUnicode CMap are returned — simple fonts fall
    through to the latin-1 / UTF-16BE-BOM default in ``_decode_shown``.
    ``cmap_cache`` (keyed by the ToUnicode object id, scoped to one
    document) keeps a shared font's CMap from being re-inflated and
    re-expanded once per page — a 300-page CID document parses its
    CMap once, not 300×."""
    fm = _FONT_DICT_RE.search(page_body)
    if fm is None:
        return {}
    fonts: dict[str, tuple[dict[int, str], int]] = {}
    for ref in _FONT_REF_RE.finditer(fm.group(1)):
        tm = _TOUNICODE_RE.search(objs[int(ref.group(2))][0])
        if tm is None:
            continue
        tref = int(tm.group(1))
        if tref not in cmap_cache:
            thead, tstream = objs[tref]
            cmap_cache[tref] = _parse_tounicode(_decode_stream(thead, tstream))
        fonts[ref.group(1).decode("latin-1")] = cmap_cache[tref]
    return fonts


def _decode_shown(raw: bytes, font: tuple[dict[int, str], int] | None) -> str:
    """Shown string bytes → text under the current font.

    CID font (has a ToUnicode CMap): fixed-width codes looked up in the
    cmap, unmapped codes → U+FFFD; a trailing PARTIAL code (truncated
    producer stream, length not a multiple of the width) also yields
    U+FFFD instead of vanishing silently. Simple font / no font info:
    the UTF-16BE-BOM text-string convention (ISO 32000 §7.9.2.2), else
    latin-1 bytes — the pre-CID behavior, unchanged."""
    if font is not None:
        cmap, w = font
        out = []
        for k in range(0, len(raw), w):
            chunk = raw[k:k + w]
            if len(chunk) < w:
                out.append("�")  # truncated trailing code
            else:
                out.append(cmap.get(int.from_bytes(chunk, "big"), "�"))
        return "".join(out)
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", "replace")
    return raw.decode("latin-1")


def _page_object_order(objs: dict[int, tuple[bytes, bytes | None]]) -> list[int]:
    """Document page order: walk /Catalog → /Pages → /Kids depth-first
    (ISO 32000 §7.7.3.2 — the /Kids ARRAY defines page sequence, not
    object numbering), falling back to ascending object id when the
    tree is absent or misses pages (round-4 ADVICE: producers are free
    to number page objects out of document order)."""
    by_scan = [oid for oid in sorted(objs) if _PAGE_RE.search(objs[oid][0])]
    root = None
    for body, _ in objs.values():
        if re.search(rb"/Type\s*/Catalog\b", body):
            m = re.search(rb"/Pages\s+(\d+)\s+\d+\s+R", body)
            if m:
                root = int(m.group(1))
                break
    if root is None:
        return by_scan
    order: list[int] = []

    def walk(oid: int) -> None:
        body, _ = objs[oid]
        if _PAGE_RE.search(body):
            order.append(oid)
            return
        km = re.search(rb"/Kids\s*\[(.*?)\]", body, re.S)
        if km is not None:
            for r in _REF_RE.finditer(km.group(1)):
                walk(int(r.group(1)))

    walk(root)
    # the tree must account for every scanned page; a partial tree
    # (orphaned pages, truncated /Kids) falls back to the scan order
    return order if order and set(order) == set(by_scan) else by_scan


def extract_text_from_pdf(data: bytes) -> tuple[str, int]:
    """(text, n_pages) from PDF bytes. Raises on hopeless input."""
    objs = _parse_objects(data)
    order = _page_object_order(objs)
    if not order:
        raise ValueError("no /Type /Page objects")
    cmap_cache: dict[int, tuple[dict[int, str], int]] = {}
    out_lines: list[str] = []
    for oid in order:
        body = objs[oid][0]
        cm = _CONTENTS_RE.search(body)
        if cm is None:  # a page dict cut off before /Contents: no text
            continue
        fonts = _page_fonts(body, objs, cmap_cache)
        head, stream = objs[int(cm.group(1))]
        try:
            content = _decode_stream(head, stream)
        except Exception:  # malformed payload: this page extracts nothing
            continue
        if content is None:  # unknown filter: this page extracts nothing
            continue
        segments: list[tuple[float, float, int, str]] = []  # (x, y, seq, text)
        # text-positioning state (line-matrix translation + leading)
        # + current font (Tf selects which decoding the shows use)
        x = y = 0.0
        leading = 0.0
        cur_font: tuple[dict[int, str], int] | None = None
        last_name: str | None = None
        last_str: str | None = None
        nums: list[float] = []
        for kind, val in _tokenize_content(content):
            if kind == "str":
                last_str = _decode_shown(val, cur_font)
            elif kind == "num":
                nums.append(val)
                continue
            elif kind == "name":
                last_name = val
                continue
            elif kind == "arr":
                last_str = "".join(
                    _decode_shown(v, cur_font)
                    for k, v in val if k == "str"
                )
            elif kind == "op":
                op = val
                if op in ("Tj", "TJ") and last_str is not None:
                    segments.append((x, y, len(segments), last_str))
                elif op == "'" and last_str is not None:
                    y -= leading  # T* then show
                    segments.append((x, y, len(segments), last_str))
                elif op == "Tf" and last_name is not None:
                    cur_font = fonts.get(last_name)
                elif op == "Td" and len(nums) >= 2:
                    x += nums[-2]
                    y += nums[-1]
                elif op == "TL" and nums:
                    leading = nums[-1]
                elif op == "Tm" and len(nums) >= 6:
                    x, y = nums[-2], nums[-1]
                elif op == "BT":
                    x = y = 0.0
                last_str = None
                nums.clear()
        out_lines.extend(_assemble_page(segments))
    return "\n".join(out_lines), len(order)


_COLUMN_GAP = 150.0  # pt of x whitespace that separates columns


def _assemble_page(segments: list[tuple[float, float, int, str]]) -> list[str]:
    """Positioned segments → reading-order lines, column-major.

    Layout rule: cluster the segments' x positions into columns wherever
    a gap exceeds ``_COLUMN_GAP`` (indents never reach it; a real column
    gutter does), then within each column group segments into lines by
    y and sort lines top-to-bottom. A two-column page DRAWN row-major
    (c1r1, c2r1, c1r2, …) therefore extracts column-major — reading
    order — which the emission-order flush of a naive extractor cannot
    produce. Single-column pages form one cluster and reduce exactly to
    emission order. Ties (same column, same y) keep draw order and
    concatenate, matching PDF's contiguous show semantics."""
    xs = sorted({s[0] for s in segments})
    col_starts = xs[:1]
    for a, b in zip(xs, xs[1:]):
        if b - a > _COLUMN_GAP:
            col_starts.append(b)

    def col_of(xv: float) -> int:
        c = 0
        for i, start in enumerate(col_starts):
            if xv >= start - 1e-6:
                c = i
        return c

    lines: dict[tuple[int, float], list[tuple[int, str]]] = {}
    for xv, yv, sq, txt in segments:
        key = (col_of(xv), round(yv, 1))
        lines.setdefault(key, []).append((sq, txt))
    out = []
    for col, yv in sorted(lines, key=lambda k: (k[0], -k[1])):
        segs = sorted(lines[(col, yv)])
        out.append("".join(t for _, t in segs))
    return out
