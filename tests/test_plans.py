"""Physical-plan regression tests: the plan properties PLANS.md claims.

A correct-but-degraded plan (lost pruning, surprise shuffle, full sort
for a top-k) is a performance bug at 100 TB even when results match —
these tests pin the plan shape.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from readabilitysax_spark.operators.extract import extract_articles

from .conftest import SF_TINY


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _algo_exchanges(plan: str) -> list[str]:
    """Exchange lines that move data for the ALGORITHM (hash/range/
    single-partition), excluding round-robin ones. A round-robin
    Exchange comes from the guarded input spread
    (`sources.pages.spread_small_scan`), which only exists when a small
    corpus scans as fewer splits than cores — a structural no-op at
    production scale — or from a caller's opt-in
    ``extract_articles(num_partitions=...)``; neither counts against
    the one-shuffle/map-only pins that model 100 TB behavior."""
    return [
        ln
        for ln in plan.splitlines()
        if "Exchange" in ln and "roundrobinpartitioning" not in ln.lower()
    ]


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    from readabilitysax_spark.sources.pages import read_pages

    p = str(tmp_path_factory.mktemp("plans") / "pages")
    read_pages(spark, SF_TINY).write.parquet(p)
    return spark.read.parquet(p)


def test_extraction_scan_prunes_columns(spark, pages_parquet):
    plan = _plan(extract_articles(pages_parquet, passthrough=("lang",)))
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "url" in read_schema and "html" in read_schema and "lang" in read_schema
    assert "warc_ts" not in read_schema


def test_extraction_is_map_only(spark, pages_parquet):
    assert "Exchange" not in _plan(extract_articles(pages_parquet))


def test_lang_rollup_single_exchange_partial_agg(spark, pages_parquet):
    agg = extract_articles(pages_parquet, passthrough=("lang",)).groupBy(
        "lang").agg(F.count("*"))
    plan = _plan(agg)
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan


def test_dedup_single_shuffle(spark):
    for name in ("dedup_exact", "dedup_minhash_lsh"):
        plan = _plan(entry.queries()[name](spark, SF_TINY))
        assert len(_algo_exchanges(plan)) == 1, name


def test_topk_uses_take_ordered(spark):
    plan = _plan(entry.queries()["similarity_topk"](spark, SF_TINY))
    assert "TakeOrderedAndProject" in plan
    assert not _algo_exchanges(plan)


def test_stratified_sample_is_filter_only(spark, monkeypatch):
    """Mixture sampling must compile to a scan+filter — no shuffle, no
    sampling pass (the property that makes it free at 10^12 rows)."""
    from readabilitysax_spark.operators import corpus
    from readabilitysax_spark.operators.corpus import stratified_sample

    monkeypatch.setattr(corpus, "MIX_RATES", {"en": 1.0})
    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    plan = _plan(stratified_sample(docs))
    assert "Exchange" not in plan
    assert "Filter" in plan


def test_pack_sequences_no_single_partition_window(spark):
    """The global prefix sum must NOT funnel the table through one
    partition: the window partitions by _part (parallel), the only
    Exchanges are the range partition and the tiny broadcast."""
    from readabilitysax_spark.operators.corpus import pack_sequences

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    plan = _plan(pack_sequences(docs))
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan
    assert "BroadcastExchange" in plan  # per-partition base offsets


def test_ivf_prebuilt_search_no_query_time_assign(spark, monkeypatch):
    """The build/search split's whole point: after build_ivf_index, a
    search is a probe filter over the materialized list_id column plus
    a top-k — NO full-corpus centroid assignment (the array_max-over-
    struct expression) may appear in the query-time plan, and the
    ranking must be a TakeOrdered, not a full sort."""
    from readabilitysax_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    qvec = [float(v) for v in
            emb.where("vec_id = 0").select("embedding").head()[0]]
    monkeypatch.setattr(similarity, "IVF_N_LISTS", 4)
    monkeypatch.setattr(similarity, "IVF_N_PROBE", 2)
    monkeypatch.setattr(similarity, "TOP_K", 5)
    centroids, assigned = similarity.build_ivf_index(emb.where("vec_id <> 0"))
    plan = _plan(similarity.ivf_search(assigned, centroids, qvec))
    assert "array_max" not in plan
    assert "list_id" in plan  # the probe filter on the prebuilt column
    assert "TakeOrderedAndProject" in plan


def test_simhash64_pairs_bounded_plan(spark):
    """Band join, never a cartesian product."""
    plan = _plan(entry.queries()["dedup_simhash64_pairs"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_dedup_spans_no_window_no_join(spark):
    """Span dedup must stay skew-immune: the first-occurrence winner is
    a map-side-combinable struct-min aggregation — no row_number window
    (which would sort every occurrence of a hot boilerplate span on one
    reducer) and no join back to the occurrence table."""
    plan = _plan(entry.queries()["dedup_spans"](spark, SF_TINY))
    assert "Window" not in plan
    assert "partial_min" in plan  # map-side combine on the span agg
    assert "CartesianProduct" not in plan


def test_gopher_quality_is_map_only(spark):
    plan = _plan(entry.queries()["gopher_quality"](spark, SF_TINY))
    assert not _algo_exchanges(plan)


def test_media_audit_is_map_only(spark):
    """The feature / resize / frame / PDF-text stages run in one
    zero-shuffle Arrow map, scanning only (doc_id, text)."""
    plan = _plan(entry.queries()["media_pipeline"](spark, SF_TINY))
    assert not _algo_exchanges(plan)
    assert plan.count("MapInArrow") == 1
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def _split_in_lambda(line: str) -> bool:
    """True when a ``split(`` sits inside a lambda body of ``line``:
    re-evaluated per array position instead of once per row."""
    start = line.find("lambdafunction(")
    while start >= 0:
        depth, i = 0, start + len("lambdafunction")
        while i < len(line):
            depth += {"(": 1, ")": -1}.get(line[i], 0)
            if depth == 0:
                break
            i += 1
        if "split(" in line[start:i]:
            return True
        start = line.find("lambdafunction(", start + 1)
    return False


def test_word_ngram_split_is_staged(spark, monkeypatch):
    """Every word-n-gram operator reads the split word array from its
    own Project (dedup.shingle_table), including the plans of the
    frames checkpointed while the query is built."""
    from pyspark.sql import DataFrame

    explain = lambda df: df._sc._jvm.PythonSQLUtils.explainString(  # noqa: E731
        df._jdf.queryExecution(), "formatted"
    )
    plans = []
    local_checkpoint = DataFrame.localCheckpoint

    def recorded(self, *a, **k):
        plans.append(explain(self))
        return local_checkpoint(self, *a, **k)

    monkeypatch.setattr(DataFrame, "localCheckpoint", recorded)
    for name in ("repetition_stats", "decontamination",
                 "dedup_ngram_jaccard", "training_corpus_curated"):
        plans.clear()
        plans.append(explain(entry.queries()[name](spark, SF_TINY)))
        bad = [ln for p in plans for ln in p.splitlines() if _split_in_lambda(ln)]
        assert not bad, (name, bad)


def test_vocab_stats_partial_agg_and_topk(spark):
    """One word-keyed shuffle with map-side partial aggregation, top-k
    via TakeOrderedAndProject (never a full global sort), and the rank
    window runs on the already-limited k rows."""
    plan = _plan(entry.queries()["vocab_stats"](spark, SF_TINY))
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0].split("Window")[0]


def test_incremental_dedup_no_cartesian(spark):
    plan = _plan(entry.queries()["dedup_incremental"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_unigram_cross_entropy_lm_is_broadcast(spark):
    """The LM table must join the corpus by BROADCAST (the dim is a
    vocab, tiny against a 100 TB fact) — never a shuffled fact join or
    a cartesian product."""
    plan = _plan(entry.queries()["unigram_cross_entropy"](spark, SF_TINY))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan  # map-side combine on the LM build


def test_bucketed_join_is_shuffle_free(spark, tmp_path_factory):
    """Bucketing demo for co-located joins: two tables bucketed+sorted
    on doc_id join WITHOUT any Exchange — the physical layout carries
    the partitioning, which is how repeated 100 TB joins amortize their
    shuffle (write once bucketed, join forever shuffle-free)."""
    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    base = tmp_path_factory.mktemp("bucketed")
    for name in ("b_docs", "b_stats"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    (docs.select("doc_id", "text")
         .write.bucketBy(8, "doc_id").sortBy("doc_id")
         .option("path", str(base / "b_docs"))
         .mode("overwrite").saveAsTable("b_docs"))
    (docs.select("doc_id", "lang", "n_chars")
         .write.bucketBy(8, "doc_id").sortBy("doc_id")
         .option("path", str(base / "b_stats"))
         .mode("overwrite").saveAsTable("b_stats"))
    # at fixture scale the planner would broadcast (hiding the layout);
    # disable it so the test exercises the co-located SMJ path a 100 TB
    # fact-fact join takes
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_docs").join(
            spark.table("b_stats").where(F.col("n_chars") > 0), "doc_id")
        plan = _plan(joined)
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        assert joined.count() == docs.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_domain_cap_partial_window_group_limit(spark):
    """The per-domain cap must prune map-side before the domain
    shuffle: Catalyst's WindowGroupLimit rewrite must appear in
    Partial mode (a mega-domain reaches the reducer as <= n rows per
    map task, not its full row set), and no single-partition funnel."""
    plan = _plan(entry.queries()["domain_cap"](spark, SF_TINY))
    assert "WindowGroupLimit" in plan and "Partial" in plan
    assert "Exchange SinglePartition" not in plan


def test_outlinks_map_only_and_link_graph_partial_agg(spark):
    """Outlink extraction is the same zero-shuffle vectorized map as
    article extraction; the in-degree rollup aggregates with map-side
    partial combine and no cartesian."""
    assert not _algo_exchanges(_plan(entry.queries()["outlinks"](spark, SF_TINY)))
    plan = _plan(entry.queries()["link_graph"](spark, SF_TINY))
    assert "partial" in plan
    assert "CartesianProduct" not in plan


def test_quality_classifier_is_map_only(spark):
    plan = _plan(entry.queries()["quality_classifier"](spark, SF_TINY))
    assert not _algo_exchanges(plan)


def test_sample_per_lang_partial_window_group_limit(spark):
    plan = _plan(entry.queries()["sample_per_lang"](spark, SF_TINY))
    assert "WindowGroupLimit" in plan and "Partial" in plan
    assert "Exchange SinglePartition" not in plan


def test_training_corpus_curated_composed_plan(spark):
    """The full curation chain (blocklist → quality → dedup →
    decontamination → domain cap → holdout split) must compose into
    ONE plan whose only join strategies are hash joins (broadcast for
    the blocklist/benchmark sides, anti for the removals) plus the two
    curation windows — the domain cap keeping its map-side
    WindowGroupLimit prune — with no cartesian product and no
    single-partition funnel before the final presentation sort."""
    df = entry.queries()["training_corpus_curated"](spark, SF_TINY)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan and "Partial" in plan
    # the only SinglePartition exchange allowed is the final global
    # ORDER BY doc_id (range partitioning), not a mid-plan funnel
    assert "Exchange SinglePartition" not in plan
    # both anti-join removals (blocklist, decontamination) survive
    assert plan.count("LeftAnti") >= 2, plan


def test_normalize_text_is_map_only(spark):
    plan = _plan(entry.queries()["normalize_text"](spark, SF_TINY))
    assert not _algo_exchanges(plan)


def test_simhash_multi_single_exchange(spark):
    """Both fingerprint widths (16 + 64) must come from ONE word-explode
    and ONE doc_id-keyed shuffle with map-side partial sums — merging
    the widths must not double the aggregation cost."""
    plan = _plan(entry.queries()["dedup_simhash"](spark, SF_TINY))
    assert len(_algo_exchanges(plan)) == 1, plan
    assert "partial_sum" in plan


def test_corpus_profile_single_exchange(spark):
    """Counts, totals and exact percentiles share one lang-keyed
    shuffle (the merged rollup must not re-scan per stat family)."""
    plan = _plan(entry.queries()["corpus_profile"](spark, SF_TINY))
    # exactly the two-stage exact-count-distinct shape: a (lang,source)
    # partial agg + exchange, then the lang agg + exchange — every stat
    # family (counts, sums, percentiles) rides those same two, all with
    # map-side partials; no per-family extra scan or shuffle
    aggx = [ln for ln in plan.splitlines()
            if "Exchange hashpartitioning" in ln]
    assert len(aggx) == 2, plan
    assert "partial_percentile" in plan and "partial_sum" in plan
    assert plan.count("FileScan") == 1


def test_spread_small_scan_guard(spark):
    """The input spread fires ONLY below the cores-worth-of-splits
    threshold: a one-row-group scan is widened to defaultParallelism
    (else every CPU-bound map stage runs single-core), while an input
    that is already at least that wide passes through IDENTICALLY —
    the guard may never add a full-corpus shuffle at scale."""
    from readabilitysax_spark.sources.pages import spread_small_scan

    par = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    assert docs.rdd.getNumPartitions() < par  # fixture precondition
    assert spread_small_scan(spark, docs).rdd.getNumPartitions() == par
    wide = docs.repartition(par)
    assert spread_small_scan(spark, wide) is wide


def test_spread_small_scan_follows_rewritten_layout(spark, tmp_path):
    """The memoized split count is keyed on the input layout too: a path
    rewritten within one session with another split layout is probed
    again instead of reusing the old layout's decision."""
    from readabilitysax_spark.sources.pages import spread_small_scan

    par = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "docs.parquet")
    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    layouts = [docs.coalesce(1), docs.repartition(8 * par), docs.coalesce(1)]
    for layout in layouts:
        layout.write.mode("overwrite").parquet(path)
        scan = spark.read.parquet(path)
        spread = spread_small_scan(spark, scan, cache_key=path)
        if scan.rdd.getNumPartitions() < par:
            assert spread.rdd.getNumPartitions() == par
        else:
            assert spread is scan


def test_ivf_recall_no_query_time_assign(spark):
    """The recall panel must reuse the prebuilt index: no array_max
    centroid-assignment expression anywhere in the plan (that's the
    build's job), and no cartesian product."""
    plan = _plan(entry.queries()["similarity_ivf_recall"](spark, SF_TINY))
    assert "array_max" not in plan, plan
    assert "CartesianProduct" not in plan


def test_ivf_recall_search_is_one_scan(spark):
    """Round-4 VERDICT item 1: the search side must be ONE scan of the
    assignment table (broadcast panel join + explode + WindowGroupLimit
    top-k), not a per-(query,probe) union of 12 independent scans. The
    assignment table is a localCheckpoint, so it appears as a 'Scan
    ExistingRDD' leaf carrying (embedding, list_id) — the whole recall
    plan must contain exactly one such leaf (the other ExistingRDD
    leaves are the metadata-sized panel/grid literals)."""
    import re

    plan = _plan(entry.queries()["similarity_ivf_recall"](spark, SF_TINY))
    scans = [
        ln for ln in plan.splitlines()
        if re.search(r"Scan ExistingRDD\[.*embedding.*list_id", ln)
    ]
    assert len(scans) == 1, plan
    assert "WindowGroupLimit" in plan, plan


def test_read_pages_meta_matches_pages(spark):
    """The html-pruned JVM pages projection must agree value-for-value
    with the synthesized pages table on every shared column (url,
    warc_ts, text, lang) — it is the sandbox stand-in for column
    pruning at a real pages scan."""
    from readabilitysax_spark.sources.pages import read_pages, read_pages_meta

    full = {
        r["url"]: (r["warc_ts"], r["text"], r["lang"])
        for r in read_pages(spark, SF_TINY)
        .select("url", "warc_ts", "text", "lang").collect()
    }
    meta = {
        r["url"]: (r["warc_ts"], r["text"], r["lang"])
        for r in read_pages_meta(spark, SF_TINY)
        .select("url", "warc_ts", "text", "lang").collect()
    }
    assert full == meta


def test_fused_extract_matches_staged(spark):
    """extract_articles over a documents table (pages built in the
    extraction batch loop) must be row-for-row identical to
    extract_articles(synthesize_pages(docs)) on every article column,
    including html_bytes and passthrough, in text and html modes; same
    for extract_outlinks."""
    from readabilitysax_spark.operators.extract import extract_outlinks
    from readabilitysax_spark.sources.pages import read_documents, synthesize_pages

    docs = read_documents(spark, SF_TINY).where(F.col("doc_id") < 60)
    pages = synthesize_pages(docs)
    cols = ["url", "title", "text", "text_length", "score", "next_page",
            "skip_level", "error", "html_bytes", "lang"]

    def rows(df):
        return sorted(map(tuple, df.collect()))

    for mode in ("text", "html"):
        fused = extract_articles(docs, output_type=mode, passthrough=("lang",))
        staged = extract_articles(pages, output_type=mode, passthrough=("lang",))
        assert fused.schema == staged.schema
        assert rows(fused.select(*cols)) == rows(staged.select(*cols))
    assert rows(extract_outlinks(docs)) == rows(extract_outlinks(pages))


def test_html_bytes_counts_utf8_bytes_on_both_sources(spark):
    """html_bytes is the page's UTF-8 byte length whether the page is
    read from a pages table (binary html) or built from a documents row
    (str html) — partition_metrics sums it. Non-ASCII texts make the
    byte count differ from the code-point count."""
    from readabilitysax_spark.functions.pagegen import synth_page
    from readabilitysax_spark.operators.metrics import partition_metrics
    from readabilitysax_spark.sources.pages import synthesize_pages

    from .test_oracle_fuzz import _texts

    texts = [t for t in _texts() if not t.isascii()]
    assert len(texts) >= 3  # CJK, accented, Arabic, Cyrillic
    docs = spark.createDataFrame(
        [(i, t, f"src{i}", "xx") for i, t in enumerate(texts)],
        "doc_id long, text string, source string, lang string",
    )
    want = {}
    for i, t in enumerate(texts):
        url, html = synth_page(i, t, f"src{i}")
        want[url] = len(html.encode("utf-8"))
        assert want[url] > len(html)
    for src in (docs, synthesize_pages(docs)):
        arts = extract_articles(src)
        got = {r["url"]: r["html_bytes"] for r in arts.collect()}
        assert got == want
        total = partition_metrics(arts, "r").agg(F.sum("html_bytes")).first()[0]
        assert total == sum(want.values())


def test_aqe_skew_join_splits_hot_jaccard_bucket(spark):
    """PLANS.md §'Why these hold at 100 TB' claims AQE skew-join
    handles residual imbalance in the jaccard joins — this pins it
    (round-4 VERDICT item 6). Fixture: a corpus where one band bucket
    is hot but UNDER the max_bucket_size cap (identical texts all land
    in the same bucket per band), so the cap doesn't remove it and the
    band self-join gets one fat partition. With the skew thresholds
    scaled to test size, the final adaptive plan must mark the join
    skew-split (SortMergeJoin(skew=true) / skewed AQEShuffleRead)."""
    from readabilitysax_spark.operators import dedup

    conf = spark.conf
    keys = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # keep the SMJ
        # the band join's output feeds the pair-dedup aggregate, so a
        # skew split adds an Exchange; at test scale Spark's
        # cost-check would veto that — force it so the SPLITTING
        # behavior itself is pinned (at 100 TB the extra shuffle of a
        # split partition is exactly what we want)
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    saved = {}
    for k, v in keys.items():
        try:
            saved[k] = conf.get(k)
        except Exception:
            saved[k] = None
        conf.set(k, v)
    try:
        hot = [(i, "the same boilerplate sentence repeated across many "
                   "mirrored pages of one template site forever and ever")
               for i in range(250)]
        cold = [(10_000 + i,
                 f"unique document {i} body with its own words w{i} x{i} "
                 f"y{i} z{i} plus trailing filler filler{i}")
                for i in range(100)]
        docs = spark.createDataFrame(hot + cold, "doc_id long, text string")
        pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.0)
        # AQE finalizes a plan per QueryExecution, and only on action:
        # collect THIS DataFrame (count() would plan a different tree)
        n = len(pairs.collect())
        assert n >= 250 * 249 // 2  # the hot bucket really was dense
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_ivf_search_panel_matches_per_query_search(spark, monkeypatch):
    """Row-for-row equivalence of the batched panel search against the
    per-(query,probe) ivf_search loop it replaced — same cosines, same
    top-k membership and tiebreaks, with IVF_N_PROBE swept over the
    panel's probe levels."""
    from readabilitysax_spark.operators import similarity

    monkeypatch.setattr(similarity, "IVF_N_LISTS", 4)
    monkeypatch.setattr(similarity, "IVF_PROBE_LEVELS", (1, 2))
    monkeypatch.setattr(similarity, "TOP_K", 5)
    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    centroids, assigned = similarity.build_ivf_index(emb.where("vec_id <> 0"))
    queries = {
        int(r["vec_id"]): [float(v) for v in r["embedding"]]
        for r in emb.where("vec_id in (1, 2, 3)").collect()
    }
    panel = {
        (r["query_id"], r["n_probe"], r["vec_id"], r["cosine"])
        for r in similarity.ivf_search_panel(assigned, centroids, queries).collect()
    }
    loop = set()
    for qid, qv in queries.items():
        for p in (1, 2):
            monkeypatch.setattr(similarity, "IVF_N_PROBE", p)
            for r in similarity.ivf_search(assigned, centroids, qv).collect():
                loop.add((qid, p, r["vec_id"], r["cosine"]))
    assert panel == loop
