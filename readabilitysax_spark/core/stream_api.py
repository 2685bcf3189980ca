"""API-surface parity with the reference's transport wrappers.

* ``ChunkedExtractor`` — lib/writable-stream.ts:15-68: buffers chunks,
  concatenates at ``finish()`` and runs the ≤4-pass skip loop. (The
  reference buffers fully too — its stream is transport chunking, not
  incremental compute.)
* ``get_events`` — readability-sax.ts:715-724 (O6): replay the
  candidate subtree as SAX callbacks.
* ``extract_from_events`` — browsers/DOMasSAX.ts analog (SRC4): any
  event producer can drive the handler; the tokenizer is just the
  default producer.
"""

from __future__ import annotations

from .api import extract, run_skip_levels
from .element import Element
from .readability import Readability
from .tokenizer import tokenize


class ChunkedExtractor:
    """write(chunk)* → finish() → article dict (skip loop included)."""

    def __init__(self, settings: dict | None = None) -> None:
        self._settings = dict(settings or {})
        self._chunks: list[bytes] = []

    def write(self, chunk: str | bytes) -> None:
        if isinstance(chunk, str):
            chunk = chunk.encode("utf-8")
        self._chunks.append(bytes(chunk))

    def finish(self, type_: str = "text") -> dict:
        data = b"".join(self._chunks)
        settings = dict(self._settings)
        url = settings.pop("pageURL", None)
        return extract(data, url=url, type_=type_, settings=settings)


def get_events(readable: Readability, callbacks) -> None:
    """Replay the candidate subtree: onopentag(name, attrs) / ontext /
    onclosetag — readability-sax.ts:715-724."""

    def walk(node: Element) -> None:
        callbacks.onopentag(node.name, node.attributes)
        for child in node.children:
            if type(child) is str:
                callbacks.ontext(child)
            else:
                walk(child)
        callbacks.onclosetag(node.name)

    walk(readable._get_candidate_node())


def extract_from_events(events: list[tuple], settings: dict | None = None,
                        type_: str = "text") -> dict:
    """Run the scorer over an externally-produced event stream
    (the DOMasSAX pattern: events are the canonical interface)."""
    return run_skip_levels(Readability(settings or {}), events, type_)


__all__ = ["ChunkedExtractor", "get_events", "extract_from_events", "tokenize"]
