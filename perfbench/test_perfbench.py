"""Tests of the benchmark's own checks, inputs and tracing (no Spark).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import inputs  # noqa: E402
from checks import Tally, check_articles, check_query  # noqa: E402
from tracing import EventLog, Tracer  # noqa: E402


def _expected(n: int) -> dict:
    from readabilitysax_spark.functions.pagegen import expected_article

    docs = inputs.documents(3, n)
    out = {}
    for d, t, s in zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist(),
                       docs.column("source").to_pylist()):
        exp = expected_article(d, t, s)
        out[exp["url"]] = {**exp, "skip_level": 0}
    return out


def _rows(expected: dict) -> list[dict]:
    return [{**e, "error": False} for e in expected.values()]


def test_correct_articles_pass():
    exp = _expected(50)
    tally = check_articles(_rows(exp), exp)
    assert (tally.attempted, tally.failed, tally.failed_frac) == (50, 0, 0.0)


def test_planted_text_mismatch_raises_failed_frac():
    exp = _expected(50)
    rows = _rows(exp)
    rows[7] = {**rows[7], "text": rows[7]["text"] + " "}
    tally = check_articles(rows, exp)
    assert tally.failed == 1 and tally.failed_frac == 1 / 50
    assert "text" in tally.notes[0]


def test_error_missing_and_repeated_rows_fail():
    exp = _expected(20)
    rows = _rows(exp)
    rows[0] = {**rows[0], "error": True}
    rows[1] = rows[2]              # one url repeated, one missing
    tally = check_articles(rows, exp)
    assert tally.failed == 3 and tally.attempted == 21


def test_planted_query_mismatch_fails():
    from tests.harness import _norm_rows

    cols = ["doc_id", "score"]
    oracle = _norm_rows(cols, [(1, 0.5), (2, 0.25)])
    assert check_query("q", cols, [(2, 0.25), (1, 0.5)], cols, oracle).failed == 0
    assert check_query("q", cols, [(2, 0.25), (1, 0.75)], cols, oracle).failed == 1
    assert check_query("q", ["doc_id"], [(1,), (2,)], cols, oracle).failed == 1


def test_tally_sums():
    total = Tally().add(Tally(3, 1, ["a"])).add(Tally(2, 0))
    assert (total.attempted, total.failed, total.notes) == (5, 1, ["a"])


def test_inputs_follow_the_seed():
    a, b, c = inputs.documents(5, 200), inputs.documents(5, 200), inputs.documents(6, 200)
    assert a.equals(b) and not a.equals(c)
    assert sorted(a.column("doc_id").to_pylist()) == list(range(200))
    assert all(set(t) <= set("abcdefghijklmnopqrstuvwxyz ") for t in a.column("text").to_pylist())


def test_skewed_pages_have_distinct_urls_and_expectations():
    pages, giants, expected = inputs.skewed_pages(seed=2, replicas=3)
    urls = pages.column("url").to_pylist()
    assert len(set(urls)) == len(urls) == 3 * 23
    assert 3 <= giants.num_rows <= 6
    assert len(expected) == len(urls) + giants.num_rows
    sizes = [len(t) for t in giants.column("text").to_pylist()]
    assert 3.5e6 < sum(sizes) < 4.5e6 and min(sizes) > 600_000


def test_self_time_subtracts_children():
    tracer = Tracer("t")
    with tracer.span("outer"):
        with tracer.span("inner"):
            pass
    outer, inner = tracer.with_self_time()
    assert inner["parent"] == outer["id"] and outer["run_id"] == "t"
    assert abs(outer["self_s"] - (outer["end"] - outer["start"] - (inner["end"] - inner["start"]))) < 1e-9


def test_event_log_summary(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 1_000_500, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerJobStart", "Submission Time": 9_000_000, "Stage IDs": [2]},
    ]
    for stage, run_ms in ((0, 100), (0, 100), (0, 400), (1, 50), (2, 999)):
        events.append({"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor Run Time": run_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 5}})
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events))
    s = EventLog(str(path)).summary([(1000.0, 1002.0)], slots=2)
    assert (s["jobs"], s["stages"], s["tasks"]) == (1, 2, 4)
    assert (s["shuffle_write_bytes"], s["shuffle_read_bytes"], s["spill_bytes"]) == (40, 12, 20)
    assert s["task_skew"] == 4.0
    assert s["busy_frac"] == 0.65 / 4.0


def test_benchmark_json_shape():
    import re

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    from workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
