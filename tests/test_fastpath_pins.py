"""Differential pins for the extraction core's fast paths.

* ``tokenize``: sha256 digests of the event stream over the 13 fixture
  pages, the 10 hostile snippets and 2,000 seeded mutations of them,
  recorded in ``golden/tokenize_digests.json`` from the state-loop
  tokenizer before the one-match simple-tag path existed. Regenerate
  them only for a deliberate event-stream change:
  ``python3 tests/test_fastpath_pins.py``.
* ``strip_closing`` against ``RE_CLOSING.sub``.
* the lowercase regex twins against the ``re.I`` battery, and the
  ECMAScript (ASCII-only) case folding of the ``/i`` regexes.
* ``process`` and ``extract_from_events`` against a skip-level loop
  that serializes the article on every pass.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import re
import sys

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from readabilitysax_spark.core import readability as rd  # noqa: E402
from readabilitysax_spark.core.api import process  # noqa: E402
from readabilitysax_spark.core.jsstr import ascii_lower  # noqa: E402
from readabilitysax_spark.core.readability import Readability  # noqa: E402
from readabilitysax_spark.core.stream_api import extract_from_events  # noqa: E402
from readabilitysax_spark.core.tokenizer import replay, tokenize  # noqa: E402
from readabilitysax_spark.core.urls import RE_CLOSING, strip_closing  # noqa: E402

DIGESTS = os.path.join(ROOT, "golden", "tokenize_digests.json")
N_MUTATIONS = 2000
_BITS = "<>/\"'=&!-"


def _base_pages() -> list[tuple[str, str]]:
    pages = []
    for path in sorted(glob.glob(os.path.join(ROOT, "tests", "fixtures", "*.html"))):
        with open(path, encoding="utf-8") as f:
            pages.append((os.path.basename(path), f.read()))
    with open(os.path.join(ROOT, "golden", "hostile.json"), encoding="utf-8") as f:
        for name, pin in sorted(json.load(f).items()):
            pages.append((f"hostile:{name}", pin["html_input"]))
    return pages


def _mutations(pages: list[tuple[str, str]], n: int = N_MUTATIONS, seed: int = 2):
    """``n`` seeded edits of the base pages: 1-4 insertions of 1-3 chars
    from ``<>/"'=&!-`` (plus space and a letter, so new tags and
    attributes form), deletions of 1-8 chars, and truncations."""
    rng = random.Random(seed)
    for k in range(n):
        _, html = pages[rng.randrange(len(pages))]
        for _ in range(rng.randint(1, 4)):
            op = rng.random()
            at = rng.randrange(len(html) + 1)
            if op < 0.55:
                bit = "".join(rng.choice(_BITS + " a") for _ in range(rng.randint(1, 3)))
                html = html[:at] + bit + html[at:]
            elif op < 0.9:
                html = html[:at] + html[at + rng.randint(1, 8):]
            else:
                html = html[:at]
        yield f"mutation:{k}", html


def _digest(html: str) -> str:
    events = json.dumps(tokenize(html), ensure_ascii=True, separators=(",", ":"))
    return hashlib.sha256(events.encode("ascii")).hexdigest()


def _digest_table() -> dict:
    pages = _base_pages()
    return {
        "pages": {name: _digest(html) for name, html in pages},
        # 64-bit prefixes keep the file small; a collision is negligible
        "mutations": [_digest(html)[:16] for _, html in _mutations(pages)],
    }


# ---- tokenizer ----

def test_tokenize_matches_pinned_digests():
    with open(DIGESTS, encoding="utf-8") as f:
        pinned = json.load(f)
    pages = _base_pages()
    assert {name: _digest(html) for name, html in pages} == pinned["pages"]
    assert len(pinned["mutations"]) == N_MUTATIONS
    bad = [name for (name, html), want in zip(_mutations(pages), pinned["mutations"])
           if _digest(html)[:16] != want]
    assert not bad, bad[:10]


# ---- urls.strip_closing ----

@settings(max_examples=500, deadline=None)
@given(st.text(alphabet="/#\n:a", max_size=12))
def test_strip_closing_equals_regex(s):
    assert strip_closing(s) == RE_CLOSING.sub("", s, count=1)


# ---- regex twins and case folding ----

# the /i regexes _scan_link runs as lowercase twins, and all /i regexes
_TWINNED = ("re_nextLink", "re_previousLink", "re_extraneous", "re_pages",
            "re_pagenum", "re_final")
_FOLDED = (*_TWINNED, "re_imgUrl")


def test_js_case_folding_is_ascii_only():
    # ECMAScript /i without the u flag folds ASCII letters only
    assert rd.re_final.search("fırst") is None
    assert rd.re_final.search("FIRST") is not None
    assert rd.re_extraneous.search("ſhare") is None
    assert rd.re_extraneous.search("SHARE") is not None
    assert rd.re_nextLink.search("Kontinue") is None
    assert rd.re_pages.search("PAGİNATE") is None
    assert rd.re_imgUrl.search("a.PNG") is not None
    for name in _FOLDED:
        assert getattr(rd, name).flags & re.ASCII


@settings(max_examples=400, deadline=None)
@given(st.text(alphabet="aAeEfFgGiIlLnNoOpPrRsStTxX-=/1>«ſıİK ", max_size=16))
def test_lowercase_twins_equal_re_i(s):
    lowered = ascii_lower(s)
    for name in _TWINNED:
        full = getattr(rd, name).search(s) is not None
        twin = getattr(rd, "_" + name + "_lc").search(lowered) is not None
        assert full == twin, (name, s)


def test_scan_link_scores_fold_ascii_case():
    """Upper- and mixed-case link text, href and class score as their
    lowercase forms do (scores pinned from the re.I battery)."""
    html = (
        "<html><body><div class='content'><p>" + "Some words, more words. " * 20
        + "</p></div><div class='PAGINATION'>"
        "<a href='/Story/PAGE/2'>NEXT &raquo;</a> <a href='/Story/Page/3'>Page 3</a> "
        "<a href='/Story/page/9'>LAST</a> <a href='/Story/page/8'>Prev 8</a> "
        "<a href='/Story/Print/4'>SHARE 4</a> <a href='/Story/P=5'>5</a> "
        "<a href='/Story/x/6' class='Comment'>First 6</a> <a href='/Story/PAGE/2'>Weiter</a>"
        "</div></body></html>"
    )
    r = Readability({"pageURL": "http://ex.example/Story/page/1"})
    replay(tokenize(html), r)
    base = "http://ex.example/Story/"
    assert {h: v[0] for h, v in r._scanned_links.items()} == {
        base + "PAGE/2": 200, base + "Page/3": 75, base + "page/9": -15,
        base + "page/8": -150, base + "P=5": 55, base + "x/6": -90,
    }


# ---- skip-level loop ----

def _every_pass_loop(html: str, opts: dict) -> dict:
    """The skip-level loop as it was: the article on every pass."""
    readable = Readability(opts)
    events = tokenize(html)
    level = 0
    while True:
        if level:
            readable.set_skip_level(level)
        readable.onreset()
        replay(events, readable)
        article = readable.get_article()
        used, level = level, level + 1
        if article.get("textLength", 0) >= 250 or level >= 4:
            break
    article["skipLevel"] = used
    article["error"] = False
    return article


def _loop_cases():
    pages = _base_pages()
    yield from pages
    yield from list(_mutations(pages, n=300, seed=3))


@pytest.mark.parametrize("type_", ["text", "html"])
def test_skip_loops_equal_every_pass_loop(type_):
    for name, html in _loop_cases():
        opts = {"pageURL": "http://example.com/a/b/page-2.html", "type": type_}
        want = _every_pass_loop(html, dict(opts))
        assert process(html, dict(opts)) == want, name
        assert extract_from_events(tokenize(html), dict(opts), type_) == want, name


if __name__ == "__main__":
    with open(DIGESTS, "w", encoding="utf-8") as f:
        json.dump(_digest_table(), f, indent=0, sort_keys=True)
        f.write("\n")
    print("wrote", DIGESTS)
