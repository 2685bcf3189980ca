"""html mode's ``<br/>`` cleanup in ``Readability.get_html`` (Spark-free).

* Differential: the cleanup against the reference rewrite it replaced,
  which tested ``^</?p`` on a slice of the rest of the string after
  every ``<br/>`` run, over seeded strings built from ``<br/>``,
  whitespace, ``&nbsp``, ``<p``/``</p`` and ``<pre>`` pieces.
* Cost: that slice copied the rest of the page once per run, so html
  mode grew quadratically on a page of ``<br/>`` runs. The ratio of
  html-mode to text-mode time (host load cancels in it) must stay flat
  when such a page doubles.
"""

from __future__ import annotations

import random
import re
import time

from hypothesis import given, settings
from hypothesis import strategies as st

from readabilitysax_spark.core import readability as rd
from readabilitysax_spark.core.api import extract
from readabilitysax_spark.core.element import Element
from readabilitysax_spark.core.jsstr import js_trim

_PIECES = ["<br/>", "<br/>", " ", "\n", "\t", " ", "&nbsp", "&nbsp;",
           "<p>", "</p>", "<p", "</", "<pre>", "</pre>", "<P>", "<br", "p", "w, "]
_P_OPEN_CLOSE = re.compile(r"^</?p")


def _reference_get_html(html: str) -> str:
    html = rd._re_br_before_p.sub(
        lambda m: "" if _P_OPEN_CLOSE.match(m.string[m.end():]) else m.group(),
        html,
    )
    html = rd._re_ws_run.sub(
        lambda m: "" if m.string.startswith("<br/>", m.end()) else m.group(),
        html,
    )
    return js_trim(rd._re_double_br.sub("</p><p>", html))


def _get_html(html: str) -> str:
    node = Element("div")
    node.children.append(html)
    return rd.Readability().get_html(node)


def test_get_html_equals_reference_on_seeded_strings():
    rng = random.Random(16)
    for _ in range(20_000):
        s = "".join(rng.choice(_PIECES) for _ in range(rng.randint(0, 12)))
        assert _get_html(s) == _reference_get_html(s), repr(s)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.sampled_from(_PIECES) | st.text(max_size=3), max_size=16))
def test_get_html_equals_reference(pieces):
    s = "".join(pieces)
    assert _get_html(s) == _reference_get_html(s)


def _mode_ratio(html: str, reps: int = 3) -> float:
    """Best-of-``reps`` html-mode time over best text-mode time."""
    best = {"html": float("inf"), "text": float("inf")}
    for _ in range(reps):
        for mode in best:
            t = time.perf_counter()
            extract(html, url="http://h.example/a", type_=mode)
            best[mode] = min(best[mode], time.perf_counter() - t)
    return best["html"] / best["text"]


def test_html_mode_cost_stays_linear_on_br_runs():
    # 8,000 runs of 206 chars is 1.6 MB. On a 4-core host the slice
    # form's ratio grew 1.6-3.5x from 8,000 to 16,000 runs, the
    # look-ahead's 0.96-1.0x.
    def page(n: int) -> str:
        return "<html><body><div>" + ("<br/>" + "w" * 200 + ",") * n + "</div></body></html>"

    small, large = _mode_ratio(page(8000)), _mode_ratio(page(16000))
    assert large / small < 1.3, (small, large)
