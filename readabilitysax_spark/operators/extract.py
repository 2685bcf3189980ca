"""The extraction operators: pages → articles and pages → outlinks,
each ONE vectorized Arrow UDF.

The whole readabilitySAX dataflow (SURVEY.md §2.2-2.3, rows S1-S24 /
O1-O5) runs inside ``mapInArrow`` over (url, html) batches — Spark
never sees the element tree, only the input scan and the output
articles. No per-row Python UDFs anywhere (north_rule).

Input kind is read from the frame's columns: a table with an ``html``
column is a pages table and is read as it is; any other table is a
documents table (doc_id, text, source), and each page is built by
``synth_page`` inside the same batch loop that extracts it, so the
html never crosses the JVM↔Python boundary (one Python runner per
task instead of a synthesis runner feeding an extraction runner).
Building the pages with JVM expressions instead gives byte-identical
html but slower sf0.1 noop query walls (7 reps × 2 rounds at commit
b2ccd40, 4-core host: extract_articles 0.72-0.92 -> 0.85-1.14 s,
extract_outlinks 0.47-0.51 -> 0.56-0.64 s): shipping the html across
the boundary costs more than synthesizing it in the worker.

Each operator declares its output once, as the Arrow schema its
batches are built with (``ARTICLES_ARROW_SCHEMA`` plus the typed
passthrough columns, ``_OUTLINKS_ARROW_SCHEMA``); the Spark schema
handed to ``mapInArrow`` is derived from it by ``from_arrow_schema``.

Scale design:
* **Skew** — the extraction is map-only by default. A caller who
  knows its input is skewed passes ``num_partitions``: a round-robin
  ``repartition`` that balances row counts exactly. Hashing a key
  (even with a size bucket mixed in) places pages at random, which
  balances neither bytes nor work any better.
* **Memory** — Spark caps every input Arrow batch at 256 rows and
  64 MiB (``maxRecordsPerBatch``/``maxBytesPerBatch``, session.py);
  the loop turns each input batch into exactly one output batch, so
  the input cap is also the bound on what a Python worker holds.
* **Lineage** — every article row carries ``partition_id`` and the
  partition-cumulative ``wall_ms`` at emit time; the metrics table is
  a cheap groupBy over these (operators/metrics.py) instead of a
  second pass.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_type

from ..core.api import extract
from ..sources.pages import synth_batch_pages

ARTICLES_ARROW_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("title", pa.string()),
        pa.field("text", pa.string()),
        pa.field("text_length", pa.int64()),
        pa.field("score", pa.float64()),
        pa.field("next_page", pa.string()),
        pa.field("skip_level", pa.int32()),
        pa.field("error", pa.bool_()),
        pa.field("html_bytes", pa.int64()),
        pa.field("partition_id", pa.int32()),
        pa.field("wall_ms", pa.int64()),
    ]
)


def _source_columns(df: DataFrame) -> list[str]:
    """The columns a page is read from: (url, html) of a pages table,
    or (doc_id, text, source) of a documents table."""
    if "html" in df.columns:
        return ["url", "html"]
    return ["doc_id", "text", "source"]


def _batch_pages(batch: pa.RecordBatch) -> tuple[list, list]:
    """(urls, htmls) of one input batch: a pages batch as it is, a
    documents batch through ``synth_batch_pages``."""
    if "html" in batch.schema.names:
        return batch.column("url").to_pylist(), batch.column("html").to_pylist()
    return synth_batch_pages(batch)


def _make_extract_fn(
    output_type: str,
    out_schema: pa.Schema,
    resolve_url_col: str | None = None,
):
    """The ``mapInArrow`` function: one ``out_schema`` batch per input
    batch, the article columns first, then every further field of
    ``out_schema`` taken whole from the input batch (the passthrough)."""
    passthrough = list(out_schema)[len(ARTICLES_ARROW_SCHEMA):]

    def extract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        t0 = time.perf_counter()
        for batch in batches:
            urls, htmls = _batch_pages(batch)
            # redirect semantics (get-url.ts:79-85): when the table
            # carries a post-redirect final URL, IT drives base-URL /
            # next-page resolution while the request url stays the key
            resolves = (
                batch.column(resolve_url_col).to_pylist()
                if resolve_url_col else urls
            )
            rows = []
            for url, resolve, html in zip(urls, resolves, htmls):
                html = html or b""
                art = extract(html, url=resolve or url, type_=output_type)
                rows.append((
                    url, art["title"], art[output_type], art["textLength"],
                    art["score"], art["nextPage"], art["skipLevel"], art["error"],
                    len(html) if isinstance(html, bytes) else len(html.encode("utf-8")),
                    pid, int((time.perf_counter() - t0) * 1000),
                ))
            cols = list(zip(*rows)) or [()] * len(ARTICLES_ARROW_SCHEMA)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols, ARTICLES_ARROW_SCHEMA)]
                + [batch.column(f.name).cast(f.type) for f in passthrough],
                schema=out_schema,
            )

    return extract_batches


def extract_articles(
    pages: DataFrame,
    output_type: str = "text",
    num_partitions: int | None = None,
    passthrough: tuple[str, ...] = (),
    resolve_url_col: str | None = None,
) -> DataFrame:
    """pages(url, html, ...) or documents(doc_id, text, source, ...) →
    articles DataFrame.

    A documents table has its pages synthesized in the extraction batch
    loop (see the module docstring); the result is identical to
    ``extract_articles(synthesize_pages(documents))``.

    Column pruning: only the page columns plus requested
    ``passthrough`` columns are selected, so Catalyst pushes the
    projection into the scan (check `.explain`: ReadSchema contains
    just those columns).

    ``passthrough`` rides narrow columns (lang, warc_ts, ...) through
    the UDF so downstream rollups need NO join back to the pages
    table — at 10^12 rows a url-keyed join is a full shuffle of both
    sides, which this avoids entirely.

    ``resolve_url_col``: name of a post-redirect final-URL column; when
    set, that URL drives base-URL/next-page resolution (the reference
    updates pageURL on redirects, lib/get-url.ts:79-85) while the
    request ``url`` remains the output key.
    """
    if output_type not in ("text", "html"):
        raise ValueError(f"output_type must be 'text' or 'html', not {output_type!r}")
    clash = set(passthrough) & set(ARTICLES_ARROW_SCHEMA.names)
    if clash:
        raise ValueError(
            f"passthrough columns collide with article columns: {sorted(clash)}"
        )
    extra_src = [resolve_url_col] if resolve_url_col else []
    src = pages.select(
        *dict.fromkeys([*_source_columns(pages), *extra_src, *passthrough])
    )
    if num_partitions:
        src = src.repartition(num_partitions)
    out_schema = _passthrough_schema(pages, passthrough)
    return src.mapInArrow(
        _make_extract_fn(output_type, out_schema, resolve_url_col),
        # to_arrow_type zones a TIMESTAMP passthrough in UTC: only a
        # TIMESTAMP_NTZ one is zone-less, and it maps back to NTZ
        from_arrow_schema(out_schema, prefer_timestamp_ntz=True),
    )


def _passthrough_schema(df: DataFrame, passthrough: tuple[str, ...]) -> pa.Schema:
    """The articles Arrow schema plus the passthrough columns, typed
    from ``df``'s schema."""
    extra = [f for f in df.schema.fields if f.name in passthrough]
    return pa.schema(
        list(ARTICLES_ARROW_SCHEMA)
        + [pa.field(f.name, to_arrow_type(f.dataType)) for f in extra]
    )


# ---- outlink extraction (the web-graph pass over the same pages scan) ----

_OUTLINKS_ARROW_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("link_pos", pa.int32()),
        pa.field("href", pa.string()),
        pa.field("anchor_text", pa.string()),
    ]
)


def collect_outlinks(html: str | bytes, url: str | None) -> list[tuple[int, str, str]]:
    """All <a href> links of a page as (pos, resolved_href, anchor_text).

    Resolution mirrors the reference's attribute semantics exactly
    (readability-sax.ts:369-421 S3 + :240-269 _convertLinks): absolute
    hrefs (``^\\w+:``) pass through verbatim, everything else resolves
    against the page URL — including the reference's quirks (href="/"
    → "<protocol>:/"), so link rows agree byte-for-byte with what the
    extractor's own pagination scanner sees. href-less and
    empty-href anchors are dropped (the reference skips empty
    attribute values). A new <a> while one is open implicitly closes
    the previous (browser behavior; HTML forbids nesting).

    Attribute SCOPING also mirrors the reference: onattribute applies
    to ``_currentElement`` (readability-sax.ts:369-373), and noContent
    tags never become ``_currentElement`` (:360-366), so an href on a
    span/b/font INSIDE the anchor is attributed to the anchor itself,
    while an href on a structural descendant (``<a><div href=u>``)
    belongs to the div, NOT the anchor (round-3 ADVICE). We track the
    open-descendant depth: OPEN of a non-noContent tag enters a
    descendant, its CLOSE leaves it (the reference pops one level per
    non-noContent close regardless of name, :427-432), and href is
    captured only at depth 0.
    """
    from ..core.readability import NO_CONTENT
    from ..core.tokenizer import ATTR, CLOSE, OPEN, TEXT, tokenize
    from ..core.urls import RE_PROTOCOL, convert_links, parse_page_url

    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", "replace")
    info = parse_page_url(url) if url else None
    out: list[tuple[str, str]] = []
    in_a = False
    depth = 0  # open non-noContent descendants of the current <a>
    cur_href: str | None = None
    cur_text: list[str] = []

    def close_anchor() -> None:
        nonlocal in_a, depth, cur_href, cur_text
        if cur_href:
            out.append((cur_href, "".join(cur_text)))
        in_a, depth, cur_href, cur_text = False, 0, None, []

    for e in tokenize(html):
        op = e[0]
        if op == OPEN and e[1] == "a":
            if in_a:
                close_anchor()
            in_a = True
        elif op == OPEN and in_a and e[1] not in NO_CONTENT:
            depth += 1
        elif op == ATTR and in_a and depth == 0 and e[1] == "href":
            # last-wins, like the reference: duplicate attributes each
            # fire (no onopentag registered → Parser dedup inactive)
            # and ``element.attributes[name] = value`` overwrites
            v = e[2]
            if v:
                cur_href = (
                    v if RE_PROTOCOL.match(v)
                    else convert_links(v, info, True)
                )
        elif op == TEXT and in_a:
            cur_text.append(e[1])
        elif op == CLOSE and in_a and e[1] not in NO_CONTENT:
            if depth > 0:
                depth -= 1
            elif e[1] == "a":
                close_anchor()
    if in_a:
        close_anchor()
    return [(i, h, t) for i, (h, t) in enumerate(out)]


def _outlink_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        rows: list[tuple[str, int, str, str]] = []
        for url, html in zip(*_batch_pages(batch)):
            try:
                links = collect_outlinks(html or b"", url)
            except Exception:
                links = []  # one hostile page never kills the batch
            rows.extend((url, pos, href, text) for pos, href, text in links)
        cols = list(zip(*rows)) or [()] * len(_OUTLINKS_ARROW_SCHEMA)
        yield pa.RecordBatch.from_arrays(
            [pa.array(c, f.type) for c, f in zip(cols, _OUTLINKS_ARROW_SCHEMA)],
            schema=_OUTLINKS_ARROW_SCHEMA,
        )


def extract_outlinks(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) or documents(doc_id, text, source, ...) →
    (url, link_pos, href, anchor_text): the link-graph pass every
    Common-Crawl pipeline runs beside content extraction. Same
    vectorized-map shape and input rule as ``extract_articles``:
    column-pruned scan, Arrow batches, zero shuffle — link-graph
    rollups (in-degree, per-domain) aggregate downstream."""
    return pages.select(*_source_columns(pages)).mapInArrow(
        _outlink_batches, from_arrow_schema(_OUTLINKS_ARROW_SCHEMA)
    )
