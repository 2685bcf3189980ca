"""Deterministic Common-Crawl-style page synthesis (FIXTURES.md §3/§5).

Bridges the driver's ``documents`` table to the ``pages`` schema from
BASELINE.json's input_hint: (url, warc_ts, html binary, text, lang).
Pure function of the document row — no RNG state, no wall clock — so
the same doc_id always produces the same page at every scale factor.

The generated page is engineered so the *extraction result* is
analytically predictable in ANSI SQL (the DuckDB oracle can compute the
expected title/text/textLength/score/nextPage straight from
``documents``), while still exercising the reference's scoring paths:
tagsToSkip boilerplate, unlikely-candidate strips, tiny-image rename
(Q2), div unpacking (Q4/Q5), embed whitelists, entity decoding,
implied closes, and pagination-link scanning.

Invariants (for text of length L, plain ``[a-z0-9 ]``):
  m           = (260 + L - 1) // L  paragraph copies (content ≥ 260
                chars → the skip-level loop never engages)
  title       = first 4 space-separated words (h1 ↔ <title> reconciliation)
  text        = m copies of text joined by "\\n"
  text_length = m * L
  score       = m * (1 + min(L // 100, 3)) + 30   (div +5 base, class
                "content" +25, no commas, zero link density)
  next_page   = url + "/page/2"
"""

from __future__ import annotations

MIN_CONTENT = 260

# url = URL_PREFIX + source + URL_SUFFIX + doc_id
URL_PREFIX = "http://"
URL_SUFFIX = ".example/articles/doc-"
# warc_ts = WARC_EPOCH + doc_id seconds (2020-01-01T00:00:00Z)
WARC_EPOCH = 1_577_836_800


def n_paragraphs(text_len: int) -> int:
    return (MIN_CONTENT + text_len - 1) // text_len


def page_url(source: str, doc_id: int) -> str:
    return f"{URL_PREFIX}{source}{URL_SUFFIX}{doc_id}"


def title4(text: str) -> str:
    return " ".join(text.split(" ")[:4])


def expected_article(doc_id: int, text: str, source: str) -> dict:
    """The oracle-side prediction of the extraction result."""
    m = n_paragraphs(len(text))
    url = page_url(source, doc_id)
    return {
        "url": url,
        "title": title4(text),
        "text": "\n".join([text] * m),
        "text_length": m * len(text),
        "score": m * (1 + min(len(text) // 100, 3)) + 30,
        "next_page": url + "/page/2",
    }


# nav junk per variant 3: entities + unclosed tags (tokenizer conformance;
# all inside <nav> => dropped by tagsToSkip, never reaches output)
_NAV_SPICE = (
    '<ul><li>Home<li>News &amp; Views<li>B&uuml;ro &#8212; caf&eacute;'
    "<p>unclosed &nbsp variants &notit; &#x27;"
)


def synth_page(doc_id: int, text: str, source: str) -> tuple[str, str]:
    """Returns (url, html). Deterministic; variant = doc_id % 5."""
    url = page_url(source, doc_id)
    t4 = title4(text)
    m = n_paragraphs(len(text))
    v = doc_id % 5

    parts = [
        "<!DOCTYPE html><html><head><title>",
        t4, " - ", source,
        '</title><meta charset="utf-8"><link rel="stylesheet" href="/s.css">',
        "<style>body{margin:0}</style><script>var x=1;</script></head><body>",
        '<nav class="nav"><a href="/">home</a> <a href="/about">about</a>',
        _NAV_SPICE if v == 3 else "",
        "</nav>",
        '<div class="sidebar comment"><p>promo junk text here</p>',
        '<img src="/i/hero.jpg" width="600">' if v == 1 else "",
        "</div>",
        "<h1>", t4, "</h1>",
        '<div class="content">',
    ]
    para = "<p>" + text + "</p>"
    parts.append(para * m)
    if v == 1:
        # tiny icon: width<=32 renames the img to "script" (Q2)
        parts.append('<img src="/i/icon.png" width="16">')
    elif v == 2:
        parts.append(
            f'<iframe src="http://www.youtube.com/embed/x{doc_id}"></iframe>'
            '<iframe src="http://ads.example/frame"></iframe>'
        )
    parts.append("</div>")
    if v == 4:
        # single-child div chain: exercises unpack (Q4/Q5)
        parts.append(
            '<div><div><iframe src="http://www.vimeo.com/v'
            f'{doc_id}"></iframe></div></div>'
        )
    parts.append(
        f'<div class="pagination"><a href="/articles/doc-{doc_id}/page/2">2</a> '
        f'<a href="/articles/doc-{doc_id}/page/3">3</a></div>'
    )
    parts.append(
        '<footer><span class="widget">w</span>&copy; 2026 '
        '<a href="/imprint">imprint</a></footer></body></html>'
    )
    return url, "".join(parts)


def synth_warc_ts(doc_id: int) -> int:
    """Deterministic warc timestamp: 2020-01-01 + doc_id seconds (unix)."""
    return WARC_EPOCH + int(doc_id)
