"""Curation operators: PII redaction, benchmark decontamination,
blocklist filtering — semantics and 100 TB plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from readabilitysax_spark.operators.curation import (
    decontaminate,
    filter_blocklist,
    redact_pii,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_redact_pii_semantics(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at a.b+spam@sub.example.org or c@d.io thanks"),
            (2, "server 192.168.1.250 and 10.0.0.1 are up"),
            (3, "call +1 555 010 0199 or +44 207 946 0958 now"),
            (4, "nothing sensitive here at all"),
            (5, "version 1.2.3 ships today"),  # 3 octets: NOT an IP
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in redact_pii(df).collect()}
    assert rows[1].n_emails == 2 and "<EMAIL>" in rows[1].clean_text
    assert "a.b+spam@sub.example.org" not in rows[1].clean_text
    assert rows[2].n_ipv4 == 2 and rows[2].clean_text.count("<IP>") == 2
    assert rows[3].n_phones == 2 and rows[3].clean_text.count("<PHONE>") == 2
    assert rows[4].clean_text == "nothing sensitive here at all"
    assert rows[4].n_emails == rows[4].n_ipv4 == rows[4].n_phones == 0
    assert rows[5].n_ipv4 == 0 and "1.2.3" in rows[5].clean_text


def test_redact_pii_is_map_only(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    assert "Exchange" not in _plan(redact_pii(df))


def test_decontaminate_finds_planted_overlap(spark):
    bench_sent = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [
            (1, "intro words then " + bench_sent + " then trailing words"),
            (2, "a completely different document about spark partitions and shuffles here"),
            (3, bench_sent),  # verbatim benchmark copy
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, bench_sent)], "doc_id long, text string")
    hits = {r.doc_id: r.n_hits for r in decontaminate(docs, bench).collect()}
    assert 1 in hits and 3 in hits and 2 not in hits
    assert hits[3] == 3  # 10-word doc -> three 8-grams, all shared


def test_decontaminate_broadcasts_benchmark(spark):
    docs = spark.createDataFrame([(1, "a b c d e f g h i")], "doc_id long, text string")
    bench = spark.createDataFrame([(2, "a b c d e f g h")], "doc_id long, text string")
    plan = _plan(decontaminate(docs, bench))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # the corpus side is never shuffled to join


def test_filter_blocklist(spark):
    pages = spark.createDataFrame(
        [
            ("http://www.spam.example/a", "en"),
            ("http://spam.example/b", "en"),
            ("http://ok.example/c", "en"),
            ("http://sub.spam.example/d", "en"),  # subdomain: distinct domain
        ],
        "url string, lang string",
    )
    blocked = spark.createDataFrame([("spam.example",)], "domain string")
    kept = sorted(r.url for r in filter_blocklist(pages, blocked).collect())
    # www. is normalized away; the bare subdomain is a different domain
    assert kept == ["http://ok.example/c", "http://sub.spam.example/d"]
    plan = _plan(filter_blocklist(pages, blocked))
    assert "BroadcastHashJoin" in plan


def test_filter_blocklist_hostile_url_shapes(spark):
    """A safety filter must normalize at least as aggressively as the
    canonicalizer: scheme case, query/fragment delimiting the host,
    userinfo, ports, and host case must all still hit the blocklist."""
    pages = spark.createDataFrame(
        [
            ("HTTP://evil.example/a", "en"),        # uppercase scheme
            ("http://EVIL.example/b", "en"),        # uppercase host
            ("http://evil.example?x=1", "en"),      # host ends at '?'
            ("http://evil.example#frag", "en"),     # host ends at '#'
            ("http://evil.example:80/c", "en"),     # default port
            ("http://evil.example:8080/d", "en"),   # alternate port
            ("http://u:p@evil.example/e", "en"),    # userinfo
            ("http://a@b@evil.example/f2", "en"),   # double-@ spoof: host
                                                    # is after the LAST @
            ("https://www.evil.example/f", "en"),   # www + https
            ("http://ok.example/g", "en"),
        ],
        "url string, lang string",
    )
    blocked = spark.createDataFrame([("evil.example",)], "domain string")
    kept = [r.url for r in filter_blocklist(pages, blocked).collect()]
    assert kept == ["http://ok.example/g"]


def test_filter_blocklist_normalizes_list_entries(spark):
    pages = spark.createDataFrame(
        [("http://bad.example/x", "en"), ("http://ok.example/y", "en")],
        "url string, lang string",
    )
    blocked = spark.createDataFrame(
        [("WWW.Bad.Example",)], "domain string"
    )  # sloppy list entry: case + www.
    kept = [r.url for r in filter_blocklist(pages, blocked).collect()]
    assert kept == ["http://ok.example/y"]
