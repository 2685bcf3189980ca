"""Top-level extraction API — semantics of /root/reference/lib/process.ts.

``extract`` runs the ≤4-pass skip-level loop: parse, score, and if the
extracted ``textLength`` is below 250 chars, relax the pruning settings
(setSkipLevel) and re-run. The SAX event stream is independent of the
settings, so we tokenize ONCE and replay the event list per pass — a
deliberate improvement over the reference, which re-tokenizes each pass
(observable behavior is identical). A pass's ``textLength`` is its
candidate node's ``info_text_length``, so the article (title, nextPage,
text/html) is serialized only on the final pass; the reference builds
and discards it on every pass.
"""

from __future__ import annotations

from .readability import Readability
from .tokenizer import replay, tokenize

_ERROR_ARTICLE = {
    "title": "Error",
    "text": "",
    "html": "",
    "nextPage": "",
    "textLength": 0,
    "score": 0,
    "skipLevel": -1,
    "error": True,
}


def process(
    data: str,
    settings: dict | None = None,
    skip_level: int = 0,
) -> dict:
    """lib/process.ts:11-32 — returns the ArticleResult dict.

    Adds ``skipLevel`` (the pass that produced the result) and
    ``error: False`` to the reference's fields.
    """
    return run_skip_levels(Readability(settings), tokenize(data), skip_level=skip_level)


def run_skip_levels(
    readable: Readability,
    events: list[tuple],
    type_: str | None = None,
    skip_level: int = 0,
) -> dict:
    """The skip-level loop (lib/process.ts:22-29) over a tokenized event
    list; ``type_`` as in ``Readability.get_article``."""
    while True:
        if skip_level != 0:
            readable.set_skip_level(skip_level)
        readable.onreset()
        replay(events, readable)
        node = readable._get_candidate_node()
        skip_level += 1
        if node.info_text_length >= 250 or skip_level >= 4:
            break

    article = readable.get_article(type_, node)
    article["skipLevel"] = skip_level - 1
    article["error"] = False
    return article


def extract(
    html: str | bytes,
    url: str | None = None,
    type_: str = "text",
    settings: dict | None = None,
) -> dict:
    """Safe single-document extraction for the Spark UDF hot path.

    Decodes bytes as UTF-8 (replace) and converts any per-document
    failure into an error article (the pattern of lib/get-url.ts:33-44)
    so one bad page never kills an Arrow batch. All tree walks in the
    core are iterative (element.py), so adversarially deep nesting is
    bounded by heap, not the C stack — no recursion-limit games needed.
    """
    try:
        if isinstance(html, (bytes, bytearray, memoryview)):
            html = bytes(html).decode("utf-8", "replace")
        s = dict(settings or {})
        if url:
            s["pageURL"] = url
        s["type"] = type_
        return process(html, s)
    except Exception:
        # build the error article after the handler: until it ends, the
        # traceback keeps the partial parse alive, and under memory
        # exhaustion the allocation would fail and escape
        pass
    return dict(_ERROR_ARTICLE)
