"""Reach census (Spark-free, stdlib ``trace``).

Code that no entry point runs must name its reason, the way
``tests/test_census.py`` makes every single-valued parameter name one.
A fresh interpreter starts ``trace`` before it imports the package, so
code that runs at import counts, then runs the worker-side entries over
the program's own inputs:

- the batch function of ``_make_extract_fn`` (text and html) and
  ``_outlink_batches``, over one pages batch (the fixture pages at their
  ``scripts/make_goldens.py`` urls, and the snippets of
  ``golden/hostile.json``) and over the sf0.001 documents;
- ``sources.pages._synth_batches`` over the sf0.001 documents;
- ``multimodal.audit_row`` over every sf0.001 document;
- ``pdftext.extract_text_from_pdf(pdfgen.synth_doc_pdf(doc_id, text))``
  for doc ids 0-7 (each of the four producers twice) over
  ``PDF_TEXTS``, one text per string encoding ``pdfgen`` writes.

A statement is a source line that holds bytecode (``co_lines``, the
lines ``python -m trace --missing`` marks), less the ``def`` line;
lambdas and comprehensions count with the function they sit in. The
census covers every package function that the entries enter and counts
its statements that never ran. Each function with unreached statements
is in ``ALLOWED`` with that count and one reason: a citation of the
reference (``readability-sax.ts:<lines>``, or the htmlparser2 /
entities behaviour that ``core/tokenizer.py`` and ``core/entities.py``
keep), or the tests that reach those statements (a malformed-input
guard and its hostile test). Code with neither is code no input
reaches: it goes, with the tests whose only subject it was.

Run ``python3 tests/test_reach.py`` to print the census.
"""

from __future__ import annotations

import ast
import glob
import inspect
import json
import os
import re
import subprocess
import sys
import types

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "readabilitysax_spark")

# one documents text per string encoding pdfgen writes: plain ASCII
# (90 words: three pages, so every page filter and layout turns up),
# escaped ( ) \, octal-escaped control bytes, octal-escaped
# U+0080-U+00FF, and UTF-16BE hex strings above U+00FF
PDF_TEXTS = (
    " ".join(f"w{i}" for i in range(90)),
    "par(en) back\\slash close)p",
    "tab\there bell\x07 rings",
    "café naïve ÿ",
    "漢字 文書 привет",
)

_MEMORY = ("per-row error guard: tests/test_reach.py::"
           "test_per_row_error_guards_under_memory_cap")
_MEDIA = "tests/test_operators.py::test_media_decoders_reject_garbage"
_RESIZE = "tests/test_operators.py::test_media_resize_real_pixels"
_PDF_HOSTILE = "tests/test_pdftext.py::test_hostile_inputs_error_or_degrade"
_UNKNOWN_FILTER = "tests/test_pdftext.py::test_unknown_filter_skips_stream_not_document"
_ZIP = "tests/test_worker_overhead.py::"

_CORE = "readabilitysax_spark/core/"
_OPS = "readabilitysax_spark/operators/"
ALLOWED: dict[str, tuple[int, str]] = {
    _CORE + "api.py:extract": (3, _MEMORY),
    _CORE + "entities.py:_replace_codepoint": (
        1, "entities: a numeric reference to a surrogate or past U+10FFFF "
           "decodes to U+FFFD"),
    _CORE + "entities.py:decode_attribute_value": (
        15, "entities: references inside attribute values, decoded in "
            "attribute mode (htmlparser2); no input's attributes hold '&'"),
    _CORE + "entities.py:decode_entity": (
        8, "entities: '&' at the end of text, '&#' without digits, a '&' "
           "that starts no name, legacy names without ';' and the "
           "attribute-mode '&name=' rule"),
    _CORE + "entities.py:split_text_entities": (
        3, "entities: a text chunk without '&', and a '&' that decodes to "
           "nothing stays in its chunk"),
    _CORE + "readability.py:Readability._scan_link": (
        2, "readability-sax.ts:271-357: an <a> without href, and an href in "
           "linksToSkip, are not scored"),
    _CORE + "readability.py:Readability.get_html": (
        1, "readability-sax.ts:688-706: getHTML() without a node"),
    _CORE + "readability.py:Readability.get_text": (
        1, "readability-sax.ts:708-713: getText() without a node"),
    _CORE + "readability.py:Readability.get_title": (
        1, "readability-sax.ts:644-673: an adopted header title wins"),
    _CORE + "readability.py:Readability.onattribute": (
        3, "readability-sax.ts:369-421: an empty value is skipped, a "
           "non-numeric img width/height scores nothing, and with "
           "cleanAttributes off every attribute is kept"),
    _CORE + "readability.py:Readability.onclosetag": (
        5, "readability-sax.ts:427-567: a close at the root, and the h2/h3 "
           "(:494-498), embed-count (:499-537), remove-if-empty (:539-549) "
           "and parentless (:566-567) drops"),
    _CORE + "readability.py:Readability.set_skip_level": (
        1, "readability-sax.ts:631-642: setSkipLevel(0)"),
    _CORE + "readability.py:_get_candidate_siblings": (
        1, "readability-sax.ts:124-160: a candidate without a parent"),
    _CORE + "tokenizer.py:tokenize": (
        55, "htmlparser2 Tokenizer: EOF inside a tag name, tag, attribute "
            "value, closing name, special comment, declaration or "
            "processing instruction; '/' inside a tag; unquoted attribute "
            "values; '</>'; and the closes of tags still open at EOF"),
    _CORE + "tokenizer.py:tokenize.rawtext": (
        2, "htmlparser2 Tokenizer: EOF inside a script, style, title or "
           "textarea body is text"),
    _CORE + "urls.py:convert_links": (
        5, "readability-sax.ts:240-269: no pageURL, an empty path, a "
           "'scheme://' path, and '.'/'..' segments under resolvePaths"),
    _CORE + "urls.py:strip_closing": (
        1, "readability-sax.ts:92-98: re_closing on an href with a '#' "
           "fragment"),
    _OPS + "extract.py:_outlink_batches": (2, _MEMORY),
    _OPS + "extract.py:collect_outlinks": (
        1, "a nested <a> closes the open one: "
           "tests/test_operators.py::test_collect_outlinks_hostile_anchors"),
    _OPS + "multimodal.py:audit_row": (2, _MEMORY),
    _OPS + "multimodal.py:decode_png": (4, "not a PNG: " + _MEDIA),
    _OPS + "multimodal.py:decode_png_pixels": (
        5, "undecodable pixels: " + _RESIZE + ", " + _MEDIA),
    _OPS + "multimodal.py:decode_wav": (2, "not a WAV: " + _MEDIA),
    _OPS + "multimodal.py:parse_mp4_ftyp": (2, "not an MP4: " + _MEDIA),
    _OPS + "multimodal.py:resize_asset": (1, "an undecodable PNG: " + _RESIZE),
    _OPS + "multimodal.py:resize_png": (1, "an undecodable PNG: " + _RESIZE),
    _OPS + "pdftext.py:_decode_shown": (
        1, "a truncated CID code: tests/test_pdftext.py::"
           "test_cid_truncated_trailing_code_yields_replacement"),
    _OPS + "pdftext.py:_decode_stream": (
        4, "the FlateDecode bomb cap and a truncated stream: "
           "tests/test_pdftext.py::test_flate_bomb_is_capped_not_inflated; "
           "an unknown filter: " + _UNKNOWN_FILTER),
    _OPS + "pdftext.py:_page_fonts": (
        1, "a page without a /Font dict: "
           "tests/test_pdftext.py::test_kids_array_defines_page_order"),
    _OPS + "pdftext.py:_page_object_order": (1, "no /Catalog: " + _PDF_HOSTILE),
    _OPS + "pdftext.py:_parse_objects": (
        5, "the endstream fallback for a corrupt /Length: " + _PDF_HOSTILE),
    _OPS + "pdftext.py:_utf16be_hex_to_str": (
        1, "a CMap destination that is not whole UTF-16 units: "
           "tests/test_pdftext.py::test_hostile_tounicode_cmaps_never_raise"),
    _OPS + "pdftext.py:extract_text_from_pdf": (
        5, "no pages, a page cut off before /Contents, a corrupt stream: "
           + _PDF_HOSTILE + "; an unknown filter: " + _UNKNOWN_FILTER),
    "readabilitysax_spark/zipimport_cache.py:install": (
        3, "outside CPython 3.10-3.12: " + _ZIP
           + "test_install_is_a_noop_outside_3_10_to_3_12; a second call: "
           + _ZIP + "test_install_wraps_once; zip importers already in use "
           "(workers under Spark's stock daemon): " + _ZIP
           + "test_worker_task_does_not_reread_zip_archives"),
}


def _run_entries() -> None:
    """Every worker-side entry over the program's own inputs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from readabilitysax_spark.operators import multimodal, pdftext
    from readabilitysax_spark.operators.extract import (
        ARTICLES_ARROW_SCHEMA,
        _make_extract_fn,
        _outlink_batches,
    )
    from readabilitysax_spark.sources import pages, pdfgen
    from scripts.make_goldens import PAGES
    from tests.conftest import SF_TINY

    urls, htmls = [], []
    for name in sorted(os.listdir(os.path.join(ROOT, "tests", "fixtures"))):
        urls.append(PAGES[name.removesuffix(".html")]["url"])
        with open(os.path.join(ROOT, "tests", "fixtures", name), "rb") as fh:
            htmls.append(fh.read())
    with open(os.path.join(ROOT, "golden", "hostile.json"), encoding="utf-8") as fh:
        for pin in json.load(fh).values():
            urls.append("http://h.example/a/doc-1")
            htmls.append(pin["html_input"].encode("utf-8"))
    page_batch = pa.RecordBatch.from_pydict(
        {"url": urls, "html": pa.array(htmls, pa.binary())})
    docs = pq.read_table(os.path.join(SF_TINY, "documents.parquet")).to_batches(256)

    for output_type in ("text", "html"):
        for _ in _make_extract_fn(output_type, ARTICLES_ARROW_SCHEMA)([page_batch, *docs]):
            pass
    for _ in _outlink_batches([page_batch, *docs]):
        pass
    for _ in pages._synth_batches(docs):
        pass
    for batch in docs:
        for doc_id, text in zip(batch.column("doc_id").to_pylist(),
                                batch.column("text").to_pylist()):
            multimodal.audit_row(doc_id, text, multimodal.RESIZE_MAX_SIDE,
                                 multimodal.FRAME_EVERY_N)
    for doc_id in range(8):
        for text in PDF_TEXTS:
            pdftext.extract_text_from_pdf(pdfgen.synth_doc_pdf(doc_id, text))


def _print_hits() -> None:
    """Run the entries under ``trace`` and print the package lines that
    ran, as one JSON list of [path, line]."""
    import trace

    sys.path.insert(0, ROOT)
    # third-party imports stay outside the trace: they are slow under it
    import pyarrow.parquet  # noqa: F401
    import pyspark.sql.pandas.types  # noqa: F401

    tracer = trace.Trace(count=1, trace=0, ignoredirs=[sys.prefix, sys.exec_prefix])
    tracer.runfunc(_run_entries)
    hits = sorted(k for k in tracer.results().counts if k[0].startswith(PKG + os.sep))
    print(json.dumps(hits))


def _statements() -> dict[str, set[tuple[str, int]]]:
    """``"path:function"`` -> its statements as (path, line), for every
    function in the package."""
    out: dict[str, set[tuple[str, int]]] = {}
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, ROOT)
        with open(path, encoding="utf-8") as fh:
            todo = [compile(fh.read(), path, "exec")]
        while todo:
            code = todo.pop()
            todo += [c for c in code.co_consts if isinstance(c, types.CodeType)]
            parts = code.co_qualname.split(".")
            name = ".".join(p for p in parts if not p.startswith("<"))
            if not name or not code.co_flags & inspect.CO_NEWLOCALS:
                continue  # module and class bodies
            lines = {line for _, _, line in code.co_lines() if line is not None}
            if not parts[-1].startswith("<"):
                lines.discard(code.co_firstlineno)
            out.setdefault(f"{rel}:{name}", set()).update((path, n) for n in lines)
    return out


def census() -> dict[str, tuple[int, int]]:
    """``"path:function"`` -> (statements, unreached) for every package
    function that the entries enter."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--hits"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    hits = {tuple(h) for h in json.loads(proc.stdout.splitlines()[-1])}
    table = {}
    for key, stmts in _statements().items():
        missed = len(stmts - hits)
        if missed < len(stmts):
            table[key] = (len(stmts), missed)
    return table


# A child process caps its own address space 200 MB above what its
# imports and inputs take, then feeds each per-row error guard an input
# that exhausts it, and a small page right after: 300k links for the
# extraction and outlink loops, 40M words (a 320 MB word list) for the
# PDF leg of audit_row.
_MEMORY_CHILD = r"""
import json, resource, sys
import pyarrow as pa
from readabilitysax_spark.core.api import extract
from readabilitysax_spark.operators.extract import _outlink_batches
from readabilitysax_spark.operators.multimodal import (
    FRAME_EVERY_N, RESIZE_MAX_SIDE, audit_row)

url, small = sys.argv[1:]
dense = "<a href='/x'>l</a>" * 300_000
batch = {html: pa.RecordBatch.from_pydict(
    {"url": [url], "html": pa.array([html.encode()], pa.binary())})
    for html in (small, dense)}
huge = "w " * 40_000_000
with open("/proc/self/status") as fh:
    vm_size = next(int(ln.split()[1]) << 10 for ln in fh if ln.startswith("VmSize:"))
resource.setrlimit(resource.RLIMIT_AS, (vm_size + (200 << 20),) * 2)
out = {}
for name, html in (("dense", dense), ("small", small)):
    out[name] = {
        "article": extract(html, url=url),
        "links": sum(b.num_rows for b in _outlink_batches([batch[html]])),
    }
for name, text in (("huge", huge), ("words", "a b c")):
    out[name] = audit_row(0, text, RESIZE_MAX_SIDE, FRAME_EVERY_N)
print(json.dumps(out))
"""


def test_per_row_error_guards_under_memory_cap():
    """core.api.extract, the outlink loop and audit_row each turn a row
    that exhausts memory into an error row, and the next row extracts."""
    from readabilitysax_spark.core.api import extract
    from readabilitysax_spark.sources.pdfgen import expected_pdf_text

    url = "http://m.example/a/doc-1"
    small = ("<div class='content'><p>" + "body text, with commas, words. " * 12
             + "</p></div><a href='/y'>y</a>")
    proc = subprocess.run([sys.executable, "-c", _MEMORY_CHILD, url, small],
                          cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.splitlines()[-1])
    assert out["dense"]["article"]["error"] and out["dense"]["links"] == 0
    assert out["small"]["article"] == extract(small, url=url)
    assert out["small"]["links"] == 1
    assert not out["huge"]["pdf_ok"] and out["huge"]["n_pdf_pages"] == 0
    assert out["words"]["pdf_ok"]
    assert out["words"]["pdf_text_len"] == len(expected_pdf_text("a b c"))


_CITATION = re.compile(r"[\w-]+\.ts:\d+|htmlparser2|entities|(tests/\w+\.py)::(\w+)")


def test_reasons_cite_the_reference_or_a_test():
    """Every reason cites the reference or names tests that exist."""
    names: dict[str, set[str]] = {}
    for key, (_, reason) in ALLOWED.items():
        cites = _CITATION.findall(reason)
        assert cites, f"{key}: the reason cites neither the reference nor a test"
        for path, test in cites:
            if path and path not in names:
                with open(os.path.join(ROOT, path), encoding="utf-8") as fh:
                    names[path] = {n.name for n in ast.walk(ast.parse(fh.read()))
                                   if isinstance(n, ast.FunctionDef)}
            assert not path or test in names[path], f"{key}: no {path}::{test}"


def test_unreached_statements_have_reasons():
    unreached = {k: n for k, (_, n) in census().items() if n}
    listed = {k: n for k, (n, _) in ALLOWED.items()}
    new = {k: n for k, n in unreached.items() if k not in listed}
    changed = {k: (listed[k], n) for k, n in unreached.items()
               if k in listed and listed[k] != n}
    stale = sorted(set(listed) - set(unreached))
    assert not new and not changed and not stale, (
        f"functions with unreached statements and no reason (delete the "
        f"code, or reach it from a test and cite that): {new}; counts that "
        f"changed (ALLOWED, now): {changed}; ALLOWED entries whose "
        f"statements all run now: {stale}")


if __name__ == "__main__":
    if sys.argv[1:] == ["--hits"]:
        _print_hits()
        sys.exit()
    table = census()
    width = max(map(len, table))
    modules: dict[str, list[int]] = {}
    for key in sorted(table):
        total, missed = table[key]
        mod = modules.setdefault(key.split(":")[0], [0, 0])
        mod[0] += total
        mod[1] += missed
        if missed:
            reason = ALLOWED.get(key, (None, "(no reason)"))[1]
            print(f"{key:<{width}} {missed:>3}/{total:<3} {reason}")
    print()
    for mod, (total, missed) in sorted(modules.items()):
        print(f"{mod:<{width}} {missed:>3}/{total:<3} unreached")
    print(f"functions entered: {len(table)}, statements: "
          f"{sum(t for t, _ in table.values())}, unreached: "
          f"{sum(m for _, m in table.values())}")
