"""Parameter census (Spark-free, AST only).

A value with one setting in use is a constant, not an option. This test
lists every defaulted parameter of a top-level function in
``readabilitysax_spark/`` and the values that the non-test callers give
it: the package itself, ``__spark_entry__.py``, ``bench.py``,
``bench_extra.py``, ``scripts/`` and ``perfbench/`` (bar its own tests).

A call that sets the parameter (by keyword or by position) contributes
the expression it passes. A call that leaves it unset contributes the
default. A call that forwards a defaulted parameter of the function it
sits in contributes that parameter's own values in use. Values are
compared as source text, so ``dim=dim`` (read from the data) is one
value.

Every parameter with at most one value in use must be in ``ALLOWED``
with the reason it stays a parameter. Converting one into a module
constant removes it from both; a new one fails here until it is
converted or given a reason.

Run ``python3 tests/test_census.py`` to print the census (46 defaulted
parameters, 18 of them with at most one value in use).
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CAP = "cap: safety code; None lifts it to audit what it drops"
_DEPLOY = "deployment setting: varies per cluster or input version, not per query"
_REFERENCE = "the reference's API (lib/process.ts, getArticle, the CLI)"
_EXTRACT = "extraction input: a post-redirect url column to resolve"
_INTERNAL = "internal per-document helper of pdfgen/pdftext"

_PKG = "readabilitysax_spark/"
ALLOWED = {
    _PKG + "operators/dedup.py:ngram_jaccard_pairs(max_bucket_size)": _CAP,
    _PKG + "operators/dedup.py:simhash_near_dup_pairs(max_bucket_size)": _CAP,
    _PKG + "operators/similarity.py:embedding_near_dup_pairs(max_bucket_size)": _CAP,
    _PKG + "plans/pipeline.py:run_pipeline(input_token)": _DEPLOY,
    _PKG + "plans/pipeline.py:stage_bucketed_pages(input_token)": _DEPLOY,
    _PKG + "core/api.py:process(skip_level)": _REFERENCE,
    _PKG + "core/api.py:run_skip_levels(skip_level)": _REFERENCE,
    _PKG + "core/api.py:run_skip_levels(type_)": _REFERENCE,
    _PKG + "core/stream_api.py:extract_from_events(settings)": _REFERENCE,
    _PKG + "core/stream_api.py:extract_from_events(type_)": _REFERENCE,
    _PKG + "cli.py:main(argv)": _REFERENCE,
    _PKG + "operators/extract.py:extract_articles(resolve_url_col)": _EXTRACT,
    _PKG + "operators/extract.py:_make_extract_fn(resolve_url_col)": _EXTRACT,
    _PKG + "operators/pdftext.py:_page_fonts(cmap_cache)": _INTERNAL,
    _PKG + "sources/pdfgen.py:_content_stream_two_col(enc)": _INTERNAL,
    _PKG + "sources/pdfgen.py:_content_stream_two_col(font)": _INTERNAL,
    _PKG + "sources/pdfgen.py:synth_pdf(cid)": _INTERNAL,
    _PKG + "sources/pdfgen.py:synth_pdf(columns)": _INTERNAL,
}


def _files() -> tuple[list[str], list[str]]:
    def rel(pattern: str) -> list[str]:
        return sorted(os.path.relpath(p, ROOT) for p in glob.glob(
            os.path.join(ROOT, pattern), recursive=True))

    pkg = rel("readabilitysax_spark/**/*.py")
    callers = pkg + ["__spark_entry__.py", "bench.py", "bench_extra.py"]
    callers += rel("scripts/**/*.py")
    callers += [p for p in rel("perfbench/**/*.py")
                if not os.path.basename(p).startswith("test_")]
    return pkg, callers


def _parse(path: str) -> ast.Module:
    with open(os.path.join(ROOT, path), encoding="utf-8") as fh:
        return ast.parse(fh.read())


def _text(node: ast.expr) -> str:
    try:
        return repr(ast.literal_eval(node))
    except ValueError:
        return ast.unparse(node)


def census() -> dict[str, set[str]]:
    """``"path:function(param)"`` -> the values in use, for every
    defaulted parameter of a top-level package function."""
    pkg, callers = _files()
    funcs = {}  # (path, name) -> (positional names, {defaulted: default})
    for path in pkg:
        for fn in _parse(path).body:
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = fn.args
                pos = [x.arg for x in a.posonlyargs + a.args]
                dflt = dict(zip(pos[len(pos) - len(a.defaults):], a.defaults))
                dflt.update((k.arg, d) for k, d in zip(a.kwonlyargs, a.kw_defaults)
                            if d is not None)
                funcs[(path, fn.name)] = (pos, {p: _text(d) for p, d in dflt.items()})
    by_name: dict[str, list] = {}
    for key in funcs:
        by_name.setdefault(key[1], []).append(key)

    values = {(k, p): set() for k, (_, d) in funcs.items() for p in d}
    forwards = []  # ((callee, param), (enclosing, its param))
    for path in callers:
        tree = _parse(path)
        enclosing = {id(sub): (path, top.name) for top in tree.body
                     if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef))
                     for sub in ast.walk(top)}
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            name = getattr(call.func, "id", None) or getattr(call.func, "attr", None)
            enc = enclosing.get(id(call))
            for key in by_name.get(name, []):
                pos, dflt = funcs[key]
                given = {}
                for p, v in zip(pos, call.args):
                    if isinstance(v, ast.Starred):
                        break
                    given[p] = v
                given.update((k.arg, k.value) for k in call.keywords if k.arg)
                for p, default in dflt.items():
                    v = given.get(p)
                    if v is None:
                        values[(key, p)].add(default)
                    elif (isinstance(v, ast.Name) and enc in funcs
                          and v.id in funcs[enc][1]):
                        forwards.append(((key, p), (enc, v.id)))
                    else:
                        values[(key, p)].add(_text(v))
    changed = True
    while changed:
        changed = False
        for target, source in forwards:
            if not values[source] <= values[target]:
                values[target] |= values[source]
                changed = True
    return {f"{path}:{fn}({p})": v for ((path, fn), p), v in values.items()}


def test_single_valued_parameters_have_reasons():
    found = {k: sorted(v) for k, v in census().items() if len(v) <= 1}
    unlisted = {k: v for k, v in found.items() if k not in ALLOWED}
    stale = sorted(set(ALLOWED) - set(found))
    assert not unlisted and not stale, (
        f"single-valued parameters without a reason (make them module "
        f"constants, or add the reason to ALLOWED): {unlisted}; "
        f"ALLOWED entries that are no longer single-valued: {stale}")


if __name__ == "__main__":
    table = census()
    single = {k: v for k, v in table.items() if len(v) <= 1}
    print("defaulted:", len(table), "at most one value in use:", len(single))
    for key in sorted(single):
        print(f"  {key} {sorted(single[key])}"
              + ("" if key in ALLOWED else "  (no reason)"))
