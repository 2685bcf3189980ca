"""Corpus-curation operators a production LLM training pipeline runs
between extraction and tokenization: PII redaction, benchmark
decontamination, and domain blocklist filtering.

All three are pure Catalyst plans (JVM regexp/array/join expressions,
no Python UDFs) and all are DuckDB-oracle-checkable — the regexes are
written to the common subset of Java regex and RE2 (no backreferences,
no lookaround) so both engines match identical spans.

Scale notes:
* PII redaction is map-only — zero shuffle at any corpus size.
* Decontamination broadcasts the benchmark n-gram set (eval suites are
  KBs–MBs against a 100 TB corpus) so the overlap probe is a map-side
  broadcast semi-join: the corpus is never shuffled.
* Blocklist filtering broadcasts the blocked-domain dim the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import shingle_table

# conservative, engine-portable patterns (Java regex ∩ RE2). Scope is
# deliberately narrow so both engines agree span-for-span: the phone
# pattern only matches the +CC NNN NNN[N] NNN[N] international shape —
# production would swap in a richer pattern set behind the same
# redact_pii plumbing.
RE_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
RE_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
RE_PHONE = r"\+[0-9]{1,3}[ -][0-9]{3}[ -][0-9]{3,4}[ -][0-9]{3,4}"

DECON_NGRAM = 8  # word n-gram length of benchmark decontamination


def redact_pii(documents: DataFrame) -> DataFrame:
    """(doc_id, clean_text, n_emails, n_ipv4, n_phones): PII spans
    replaced with typed placeholder tokens, per-kind counts kept for
    the curation audit trail. Map-only (redaction must touch every
    byte of a 100 TB corpus exactly once — any shuffle here doubles
    the most expensive pass of the pipeline)."""
    t = F.col("text")
    n_emails = F.regexp_count(t, F.lit(RE_EMAIL))
    # order matters: emails first (an email's host part can contain
    # digit runs), then phones, then bare IPv4s
    cleaned = F.regexp_replace(t, RE_EMAIL, "<EMAIL>")
    n_phones = F.regexp_count(cleaned, F.lit(RE_PHONE))
    cleaned = F.regexp_replace(cleaned, RE_PHONE, "<PHONE>")
    n_ipv4 = F.regexp_count(cleaned, F.lit(RE_IPV4))
    cleaned = F.regexp_replace(cleaned, RE_IPV4, "<IP>")
    return documents.select(
        F.col("doc_id"),
        cleaned.alias("clean_text"),
        n_emails.cast("int").alias("n_emails"),
        n_ipv4.cast("int").alias("n_ipv4"),
        n_phones.cast("int").alias("n_phones"),
    )


def benchmark_ngrams(benchmark: DataFrame) -> DataFrame:
    """Distinct ``DECON_NGRAM``-word n-gram hash set of an
    eval/benchmark suite — the tiny side of the decontamination join
    (built once per benchmark, broadcast to every executor)."""
    # md5 hashes of the n-grams keep the broadcast set small and the
    # comparison fixed-width. explode_OUTER + null filter, not plain
    # explode: Catalyst's InferFiltersFromGenerate adds `size(grams) > 0
    # AND isnotnull(grams)` under a non-outer explode and pushes it below
    # the repartition Exchange into the scan stage with the WHOLE
    # md5-n-gram transform inlined (split re-evaluated per slice — the
    # O(words²) form), so the gram pipeline would run 2 extra times,
    # single-core, before the shuffle (measured ~6× this query's wall
    # at sf0.1). The outer generate admits no such inference; the
    # post-generate null filter is value-identical and cheap.
    return (
        shingle_table(benchmark, DECON_NGRAM, keep=(), gram=F.md5)
        .withColumnRenamed("sh", "grams")
        .select(F.explode_outer("grams").alias("gram"))
        .where(F.col("gram").isNotNull())
        .distinct()
    )


def decontaminate(documents: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C / FineWeb
    procedure shape): flag every training doc sharing ≥1 word
    ``DECON_NGRAM``-gram with the benchmark. Returns (doc_id, n_hits)
    for CONTAMINATED docs only — anti-join these away before training.

    The corpus side stays where it is: docs explode to (doc_id, gram)
    and probe the BROADCAST benchmark set; one partial-agg shuffle of
    (doc_id, count) pairs for contaminated docs only — at 100 TB the
    shuffled volume is proportional to contamination, not corpus size.
    """
    grams = benchmark_ngrams(benchmark)
    # explode_outer + null filter: same InferFiltersFromGenerate
    # pushdown-inlining story as benchmark_ngrams (see comment there)
    doc_grams = (
        shingle_table(documents, DECON_NGRAM, gram=F.md5)
        .withColumnRenamed("sh", "grams")
        .select(F.col("doc_id"), F.explode_outer("grams").alias("gram"))
        .where(F.col("gram").isNotNull())
    )
    return (
        doc_grams.join(F.broadcast(grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_hits"))
    )


def url_host():
    """Normalized host of the ``url`` column, for safety filters:
    case-insensitive scheme match, host stops at ``/``, ``?`` or ``#``
    (same character class as ``corpus.canonicalize_url``), lowercased,
    userinfo (``user@``) and ANY ``:port`` stripped, leading ``www.``
    dropped.

    A blocklist must normalize at least as aggressively as the
    canonicalizer: ``HTTP://EVIL.com``, ``http://evil.com?x``,
    ``http://evil.com:8080/`` and ``http://u@evil.com/`` all reduce to
    ``evil.com`` here (ports are dropped unconditionally — for a
    fail-closed filter an alternate port is still the blocked host,
    unlike dedup canonicalization where origin identity matters)."""
    raw = F.lower(F.regexp_extract(F.col("url"), "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    # GREEDY strip: WHATWG treats everything before the LAST '@' as
    # userinfo, so 'http://a@b@evil.example/' serves from evil.example —
    # a non-greedy strip would leave 'b@evil.example' and fail open
    host = F.regexp_replace(raw, "^.*@", "")
    host = F.regexp_replace(host, ":[0-9]*$", "")
    return F.regexp_replace(host, "^www\\.", "")


def filter_blocklist(pages: DataFrame, blocked_domains: DataFrame) -> DataFrame:
    """Drop pages whose (normalized) domain is on a blocklist —
    broadcast anti-join, the fact table never shuffles. ``blocked_domains``
    is a one-column ``domain`` DataFrame (curation lists are tiny).
    Hosts are normalized by :func:`url_host`; blocklist entries are
    lowercased and www.-stripped the same way so the join key matches
    regardless of how the list was written."""
    domain = url_host().alias("_domain")
    blocked = blocked_domains.select(
        F.regexp_replace(F.lower("domain"), "^www\\.", "").alias("_domain")
    )
    return (
        pages.withColumn("_domain", domain)
        .join(F.broadcast(blocked), "_domain", "left_anti")
        .drop("_domain")
    )
