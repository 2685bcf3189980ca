"""Training-corpus assembly operators: deterministic stratified
sampling and GPT-style sequence packing.

Both are pure Catalyst plans (no Python UDFs) and both are engineered
to be DuckDB-oracle-checkable: sampling uses a lexicographic md5
threshold (identical string comparison in any engine), packing uses a
global token prefix-sum that Spark computes with a scalable two-pass
scheme instead of a single-partition window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import token_count

_HEX_SPAN = 16 ** 8  # first 8 md5 hex chars ≈ uniform in [0, 16^8)

# the training mixture: per-lang keep-rates, every other lang at the default
MIX_RATES = {"en": 1.0, "de": 0.5, "fr": 0.25}
MIX_DEFAULT_RATE = 0.1
PACK_BUDGET = 512  # tokens per packed training sequence
VOCAB_TOP_K = 100


def sample_threshold_hex(rate: float) -> str:
    """The 8-hex-char cutoff for a keep-rate in [0, 1]: a doc is kept
    iff substring(md5(key),1,8) < this string. String comparison over
    lowercase hex is identical in Spark, DuckDB, and every engine —
    no integer-width or hash-function portability games."""
    n = min(max(int(rate * _HEX_SPAN), 0), _HEX_SPAN)
    return format(n, "08x") if n < _HEX_SPAN else "g"  # 'g' > 'f' keeps all


def stratified_sample(documents: DataFrame) -> DataFrame:
    """Deterministic per-``lang`` downsampling to the training mixture:
    ``MIX_RATES`` per lang, ``MIX_DEFAULT_RATE`` for every other lang.

    Keep decision = md5 of the doc id under a per-stratum hex cutoff:
    reproducible across runs/engines/partitionings, no RNG state, and
    embarrassingly parallel (a filter in the scan stage — no shuffle,
    no sampling pass). Rates compose: re-running with a lower rate
    yields a strict subset (nested samples — the property you want for
    scaling-law subsets)."""
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    cutoff = F.lit(sample_threshold_hex(MIX_DEFAULT_RATE))
    for key, rate in sorted(MIX_RATES.items()):
        cutoff = F.when(
            F.col("lang") == key, F.lit(sample_threshold_hex(rate))
        ).otherwise(cutoff)
    return documents.where(h < cutoff)


def domain_stats(pages: DataFrame) -> DataFrame:
    """Per-domain crawl rollup over a pages table: (domain, n_pages,
    total_content_bytes, n_langs) — the aggregation behind domain-level
    curation (blocklists, per-domain caps). Content size is the length
    of ``text``, which the oracle computes analytically. One shuffle on
    domain; `www.` prefix normalized; expression-portable for the
    oracle."""
    domain = F.regexp_replace(
        F.regexp_extract("url", "^[a-z]+://([^/]+)", 1), "^www\\.", ""
    )
    return (
        pages.groupBy(domain.alias("domain"))
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.length("text")).cast("bigint").alias("total_content_bytes"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
        )
        .orderBy("domain")
    )


def pack_sequences(documents: DataFrame) -> DataFrame:
    """GPT-style packing layout: documents are concatenated in id order
    and sliced into fixed ``PACK_BUDGET``-token windows; returns per doc
    (doc_id, n_tokens, start_offset, first_pack, last_pack, n_packs)
    where pack k covers token offsets [k*PACK_BUDGET, (k+1)*PACK_BUDGET).

    The global prefix-sum is the interesting part at 10^12 rows: a
    single ``Window.orderBy(id)`` would funnel the whole table through
    ONE partition. Instead: range-partition by id, cumsum *within*
    each partition (parallel windows), collect only the per-partition
    totals (one tiny row per partition), prefix-sum those on the
    driver, and broadcast-join the per-partition base offsets back.
    Two passes, no global sort bottleneck, byte-identical to the naive
    global window (which the DuckDB oracle uses).

    Plan note: the ranged+id-stamped table is checkpointed once (see
    inline comment — range bounds are resampled per job otherwise) and
    Catalyst re-shuffles the checkpointed rows on ``_part`` for the
    window (it cannot see that spark_partition_id matches the range
    layout); per-key parallelism equals the session's
    ``spark.sql.shuffle.partitions``, which ``build_session`` sizes to
    the cluster width. The invariant that matters (pinned in
    test_plans) is NO ``Exchange SinglePartition`` anywhere.
    """
    # passed explicitly: AQE may coalesce a range exchange given no count
    width = int(documents.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    toks = documents.select(
        F.col("doc_id"), token_count().cast("bigint").alias("n_tokens")
    ).repartitionByRange(width, "doc_id")
    # Materialize the range layout ONCE: repartitionByRange samples its
    # range bounds per job (seeded by RDD id), so without this the
    # totals-collect job and the window job can land rows in DIFFERENT
    # partitions once the input exceeds the exhaustive-sampling
    # threshold (~sampleSizePerPartition × width rows) — the
    # _base offsets would then be applied to the wrong partition
    # contents. localCheckpoint pins one physical layout that both
    # consumers read (on a cluster: checkpoint/write the staged table).
    toks = toks.withColumn("_part", F.spark_partition_id()).localCheckpoint()

    # per-partition base offsets WITHOUT a driver collect: prefix-sum
    # the (width)-row totals table with a triangular self-join
    # (base of partition p = sum of earlier partitions' totals). One
    # row per range partition on both sides, so the non-equi join is
    # trivially small at any corpus size, it folds into the same job
    # as the window pass (one less job + no createDataFrame py4j
    # round-trip), and the driver never touches data (guide §5).
    totals = toks.groupBy("_part").agg(F.sum("n_tokens").alias("_total"))
    earlier = totals.select(
        F.col("_part").alias("_p2"), F.col("_total").alias("_t2")
    )
    offset_df = (
        totals.join(earlier, F.col("_p2") < F.col("_part"), "left")
        .groupBy("_part")
        .agg(F.coalesce(F.sum("_t2"), F.lit(0)).cast("bigint").alias("_base"))
    )

    w = Window.partitionBy("_part").orderBy("doc_id")
    return (
        toks.withColumn("_local", F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .join(F.broadcast(offset_df), "_part")
        .withColumn("start_offset", F.col("_base") + F.col("_local"))
        .withColumn("first_pack", (F.col("start_offset") / PACK_BUDGET).cast("bigint"))
        .withColumn(
            "last_pack",
            F.when(F.col("n_tokens") > 0,
                   ((F.col("start_offset") + F.col("n_tokens") - 1) / PACK_BUDGET))
            .otherwise(F.col("start_offset") / PACK_BUDGET).cast("bigint"),
        )
        .withColumn(
            "n_packs", (F.col("last_pack") - F.col("first_pack") + 1).cast("int")
        )
        .select("doc_id", "n_tokens", "start_offset", "first_pack",
                "last_pack", "n_packs")
    )


_TRACKING_PARAM_RE = "^(utm_[^=]*|fbclid|gclid|ref|mc_cid|mc_eid)="


def canonicalize_url():
    """Canonical form of the ``url`` column: lowercase scheme+host, default ports and
    fragments dropped, tracking params (utm_*/fbclid/gclid/ref/mc_*)
    removed, remaining query params sorted, trailing slashes stripped.
    Pure JVM expressions (regexp + array ops) so URL-level dedup —
    the pass that runs BEFORE content dedup in a crawl pipeline —
    stays in whole-stage codegen, and the same expressions are
    ANSI-portable for the oracle."""
    u = F.col("url")
    scheme = F.lower(F.regexp_extract(u, "^([A-Za-z]+)://", 1))
    raw_host = F.lower(F.regexp_extract(u, "^[A-Za-z]+://([^/?#]+)", 1))
    # default-port stripping is scheme-aware: :80 is only the default
    # for http and :443 only for https — http://h:443/x must stay
    # distinct from http://h/x (a non-default port is a different origin)
    host = (
        F.when(scheme == "http", F.regexp_replace(raw_host, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(raw_host, ":443$", ""))
        .otherwise(raw_host)
    )
    path = F.regexp_replace(
        F.regexp_extract(u, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1), "/+$", ""
    )
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM_RE),
        )
    )
    qs = F.concat_ws("&", params)
    return F.concat(
        scheme, F.lit("://"), host, path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )


def dedup_by_canonical_url(df: DataFrame) -> DataFrame:
    """(canonical_url, n_variants, keeper_url): URL-level duplicate
    groups; keeper = lexicographically-smallest raw variant. One
    shuffle on the canonical key."""
    c = canonicalize_url().alias("canonical_url")
    return (
        df.select(c, F.col("url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_variants"),
            F.min("url").alias("keeper_url"),
        )
        .orderBy("canonical_url")
    )


def vocab_stats(documents: DataFrame) -> DataFrame:
    """(rank, word, n_occurrences, n_docs) — corpus word-frequency
    top-``VOCAB_TOP_K``, the first pass of tokenizer/vocabulary training
    (BPE seeds, frequency cutoffs, coverage curves all start here).

    Scale shape: explode → ONE hash-shuffle on word with map-side
    partial aggregation (count and the per-word distinct-doc agg both
    combine), then TakeOrderedAndProject for the top-k — the global
    sort never materializes. ``rank`` is numbered on the already-
    limited k rows, so the single-partition window touches k rows,
    not the corpus.
    """
    words = documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    counts = (
        words.groupBy("word")
        .agg(
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("word"))
        .limit(VOCAB_TOP_K)
    )
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("word"))
    return counts.select(
        F.row_number().over(w).alias("rank"),
        "word", "n_occurrences", "n_docs",
    )


def cap_per_domain(
    documents: DataFrame,
    n: int,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Per-domain document cap (the FineWeb/Dolma "no domain dominates
    the mix" rule): keep the ``n`` largest docs per ``source`` domain,
    ranked by n_chars descending with doc_id as the deterministic
    tiebreaker.
    Returns (doc_id, domain, n_chars, rank_in_domain).

    Skew note: this is deliberately ONE declarative row_number window —
    Catalyst's ``WindowGroupLimit`` rewrite (Spark ≥3.5) inserts a
    PARTIAL top-n on the map side, so a mega-domain holding 1% of a
    100 TB crawl is pruned to ≤ n rows per map task before the
    domain-keyed shuffle; only ≤ n × num_partitions rows per domain
    ever reach a reducer. Hand-rolling a two-phase local/global top-n
    reproduces exactly this plan with an extra shuffle (measured: the
    manual version plans 3 Exchanges, this plans 1). The plan pin in
    test_plans asserts the Partial WindowGroupLimit survives upgrades.
    """
    w = Window.partitionBy("domain").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        documents.select(
            "doc_id", F.col("source").alias("domain"), "n_chars",
            *keep,
        )
        .withColumn("rank_in_domain", F.row_number().over(w))
        .where(F.col("rank_in_domain") <= n)
    )


def sample_exact_k(
    documents: DataFrame,
    k: int,
    keep: tuple[str, ...] = (),
    mark: bool = False,
) -> DataFrame:
    """Deterministic EXACT-k per-``lang`` sample (eval/holdout-set
    construction wants "exactly 1000 per language", not a keep-rate):
    rank docs inside each language by md5 of the id and keep the k
    smallest hashes. Reproducible across runs/engines/partitionings,
    and adding documents to a stratum only evicts the largest-hash
    members — the sample is stable under corpus growth.

    Same skew story as ``cap_per_domain``: the row_number window gets
    Catalyst's WindowGroupLimit map-side partial top-k, so a dominant
    stratum never funnels its full row set to one reducer.

    ``mark=True`` returns EVERY input row with an ``in_sample`` flag
    instead of filtering — the holdout/train split shape (note: the
    full window then runs without the WindowGroupLimit partial prune,
    which only fires for a filtering top-k)."""
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 16)
    w = Window.partitionBy("lang").orderBy(h, "doc_id")
    ranked = documents.select("doc_id", "lang", *keep).withColumn(
        "sample_rank", F.row_number().over(w)
    )
    if mark:
        return ranked.withColumn(
            "in_sample", F.col("sample_rank") <= k
        ).drop("sample_rank")
    return ranked.where(F.col("sample_rank") <= k)
