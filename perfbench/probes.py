"""Layer probes for the traced run.

* ``core_probe``: in-process, single-threaded extraction of sample pages,
  with spans around the core's public functions (decode, ``tokenize``,
  ``replay``, ``Readability.get_article``) in the same skip-level loop as
  ``core.api.process``. Its articles are checked against ``extract``.
* ``boundary_probe``: the JVM<->Python cost of the Arrow UDF, as an
  identity ``mapInArrow`` over the same (url, html) columns minus a
  scan-only pass, next to the real ``extract_articles`` pass.
* ``python_worker_peak_rss_mb``: peak RSS of this run's pyspark workers.
"""

from __future__ import annotations

import os
import statistics
import time

from checks import Tally
from tracing import Tracer
from workloads import write_noop

_ARTICLE_KEYS = ("title", "text", "textLength", "score", "nextPage", "skipLevel")


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def core_probe(pages: list[tuple[str, bytes, int]], tracer: Tracer) -> tuple[dict, Tally]:
    """``pages`` holds (url, html, weight): each sample page is extracted
    once and stands for ``weight`` pages of the workload's input."""
    from readabilitysax_spark.core.api import extract
    from readabilitysax_spark.core.readability import Readability
    from readabilitysax_spark.core.tokenizer import replay, tokenize

    pages_w = sum(w for _, _, w in pages)
    reference = [extract(html, url=url) for url, html, _ in pages]  # also warms caches
    api_runs = []
    for _ in range(3):
        api_s = 0.0
        for url, html, w in pages:
            t0 = time.perf_counter()
            extract(html, url=url)
            api_s += (time.perf_counter() - t0) * w
        api_runs.append(api_s)
    api_s = statistics.median(api_runs)

    tally = Tally()
    decode_s = tokenize_s = pass_s = 0.0
    events_w = passes_w = 0
    for (url, html, w), ref in zip(pages, reference):
        with tracer.span("api.extract"):
            with tracer.span("api.decode") as s:
                data = html.decode("utf-8", "replace")
            decode_s += _dur(s) * w
            with tracer.span("tokenizer.tokenize") as s:
                events = tokenize(data)
            tokenize_s += _dur(s) * w
            readable = Readability({"pageURL": url, "type": "text"})
            level = 0
            while True:
                if level:
                    readable.set_skip_level(level)
                readable.onreset()
                with tracer.span("tokenizer.replay") as s:
                    replay(events, readable)
                pass_s += _dur(s) * w
                with tracer.span("readability.get_article") as s:
                    art = readable.get_article()
                pass_s += _dur(s) * w
                used, level = level, level + 1
                if art.get("textLength", 0) >= 250 or level >= 4:
                    break
        art["skipLevel"] = used
        bad = [k for k in _ARTICLE_KEYS if art.get(k) != ref.get(k)]
        tally.check(not bad, f"core probe {url}: {bad} differ from extract()")
        events_w += len(events) * w
        passes_w += level * w

    metrics = {
        "tokenizer.ms_per_page": 1000.0 * tokenize_s / pages_w,
        "tokenizer.events_per_page": events_w / pages_w,
        "readability.ms_per_pass": 1000.0 * pass_s / passes_w,
        "api.ms_per_page": 1000.0 * api_s / pages_w,
        "api.decode_ms_per_page": 1000.0 * decode_s / pages_w,
        "api.passes_per_page": passes_w / pages_w,
    }
    return metrics, tally


def boundary_probe(spark, pages, n_pages: int, tracer: Tracer, reps: int = 2) -> dict:
    """Per-page ms of a scan-only pass, an identity ``mapInArrow`` over the
    same (url, html) columns, and ``extract_articles``; medians of ``reps``."""
    from readabilitysax_spark.operators.extract import extract_articles

    src = pages.select("url", "html")

    def identity(batches):
        yield from batches

    plans = {
        "scan": lambda: src,
        "identity": lambda: src.mapInArrow(identity, src.schema),
        "extract": lambda: extract_articles(pages),
    }
    out = {}
    for name, plan in plans.items():
        walls = []
        for _ in range(reps):
            with tracer.span(f"boundary.{name}") as s:
                write_noop(plan())
            walls.append(_dur(s))
        out[name] = 1000.0 * statistics.median(walls) / n_pages
    return out


def python_worker_peak_rss_mb() -> float:
    """Largest VmHWM among pyspark processes descended from this process."""
    me = os.getpid()
    parents: dict[int, int] = {}
    workers = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as f:
                parents[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                if b"pyspark.daemon" in f.read():  # the daemon and its forked workers
                    workers.append(int(entry))
        except (OSError, ValueError, IndexError):
            continue  # the process ended while being read

    def ours(pid: int) -> bool:
        while pid > 1:
            pid = parents.get(pid, 0)
            if pid == me:
                return True
        return False

    peak_kb = 0
    for pid in filter(ours, workers):
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024.0
