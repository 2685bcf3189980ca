"""Seeded input generation for the benchmark workloads.

Everything here is the benchmark's own: it builds the tables the program
reads (written as parquet) and the expected outputs used by the checks.
The same seed always gives the same tables.

The generated ``documents`` table has the shape of the sf0.1 table the
repository's queries were written against: 5,000 rows of 10-100 words
from a 30-word vocabulary, 5% near-duplicates (another row's text plus
" dup"), ``source`` = src0..src19 by doc_id, and a skewed ``lang``.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN = os.path.join(ROOT, "golden")
FIXTURES = os.path.join(ROOT, "tests", "fixtures")

VOCAB = (
    "part column order scan a slow agg key window table merge vector join "
    "spark line small fast group customer query row stream the batch sort "
    "value hash filter big data"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
DUP_FRAC = 0.05


def _words(rng: np.random.Generator, n: int) -> str:
    return " ".join(rng.choice(VOCAB, size=n).tolist())


def documents(seed: int, n: int) -> pa.Table:
    """The seeded ``documents`` table, rows in a seeded permutation."""
    rng = np.random.default_rng([seed, 1])
    texts = [_words(rng, int(k)) for k in rng.integers(10, 101, size=n)]
    for i in np.flatnonzero(rng.random(n) < DUP_FRAC):
        j = int(rng.integers(0, n))
        if j != i and not texts[j].endswith(" dup"):
            texts[i] = texts[j] + " dup"
    langs = rng.choice(LANGS, size=n, p=LANG_P).tolist()
    order = rng.permutation(n)
    return pa.table({
        "doc_id": pa.array(order, pa.int64()),
        "text": [texts[i] for i in order],
        "lang": [langs[i] for i in order],
        "source": [f"src{i % N_SOURCES}" for i in order],
        "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
    })


def embeddings(seed: int, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    """Unit-norm float32 vectors around ``k`` seeded centroids."""
    rng = np.random.default_rng([seed, 2])
    centroids = rng.normal(size=(k, dim))
    label = rng.integers(0, k, size=n)
    vec = centroids[label] * 0.3 + rng.normal(size=(n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


GIANT_WORDS = 740_000  # ~4 MB of giant-page text in every seed


def giant_documents(seed: int) -> pa.Table:
    """A seeded handful (3-6) of giant documents for the skewed workload.

    The seed picks how many there are and their ids (so where salting
    sends them); their total size is fixed, so every seed does the same
    work: ~0.7-1.3 MB each.
    """
    rng = np.random.default_rng([seed, 3])
    n = int(rng.integers(3, 7))
    base = 10_000_000 + int(rng.integers(0, 1_000_000)) * 10
    ids = [base + i for i in range(n)]
    texts = [_words(rng, GIANT_WORDS // n) for _ in ids]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": ["en"] * n,
        "source": [f"src{i % N_SOURCES}" for i in ids],
    })


def write_parquet(table: pa.Table, path: str, n_files: int = 1) -> None:
    """Write ``table`` as ``n_files`` contiguous slices under ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def fixture_pages() -> list[dict]:
    """The repository's fixture pages with their pinned goldens."""
    from scripts.make_goldens import PAGES

    out = []
    for name, spec in sorted(PAGES.items()):
        if os.path.dirname(spec["path"]) != FIXTURES:
            continue  # pages kept outside the repository are not used
        with open(spec["path"], encoding="utf-8") as f:
            html = f.read()
        with open(os.path.join(GOLDEN, f"{name}.text.txt"), encoding="utf-8", newline="") as f:
            text = f.read()
        with open(os.path.join(GOLDEN, f"{name}.meta.json"), encoding="utf-8") as f:
            meta = json.load(f)
        out.append({"name": name, "url": spec["url"], "html": html,
                    "expected": _expected_from_meta(text, meta)})
    return out


def hostile_pages() -> list[dict]:
    """The pinned hostile-HTML snippets from golden/hostile.json."""
    with open(os.path.join(GOLDEN, "hostile.json"), encoding="utf-8") as f:
        pins = json.load(f)
    return [
        {"name": name, "url": f"http://hostile.example/{name}",
         "html": pin["html_input"], "expected": _expected_from_meta(pin["text"], pin)}
        for name, pin in sorted(pins.items())
    ]


def _expected_from_meta(text: str, meta: dict) -> dict:
    return {"title": meta["title"], "text": text, "text_length": meta["textLength"],
            "score": float(meta["score"]), "next_page": meta["nextPage"],
            "skip_level": meta["skipLevel"]}


def skewed_pages(seed: int, replicas: int) -> tuple[pa.Table, pa.Table, dict]:
    """Fixture + hostile pages replicated in a seeded order, plus giants.

    Returns ``(pages, giants, expected)``: ``pages`` holds (url, html)
    for the replicas, ``giants`` the giant documents (the program turns
    them into pages), and ``expected`` maps each url to its expected
    article. Replica ``k`` of a page gets the url fragment ``#r<k>``, so
    every url is distinct; a fragment does not change extraction.
    """
    from readabilitysax_spark.functions.pagegen import expected_article

    rng = np.random.default_rng([seed, 4])
    base = fixture_pages() + hostile_pages()
    urls, htmls, expected = [], [], {}
    for k in range(replicas):
        for page in base:
            url = f"{page['url']}#r{k}"
            urls.append(url)
            htmls.append(page["html"].encode("utf-8"))
            expected[url] = page["expected"]
    order = rng.permutation(len(urls))
    pages = pa.table({
        "url": [urls[i] for i in order],
        "html": pa.array([htmls[i] for i in order], pa.binary()),
    })
    giants = giant_documents(seed)
    for doc_id, text, source in zip(giants.column("doc_id").to_pylist(),
                                    giants.column("text").to_pylist(),
                                    giants.column("source").to_pylist()):
        exp = expected_article(doc_id, text, source)
        expected[exp["url"]] = {**exp, "score": float(exp["score"]), "skip_level": 0}
    return pages, giants, expected
