"""Deduplication operators for web-text training pipelines.

All operators are pure DataFrame/Catalyst plans — built-in JVM
functions only, no Python UDFs — so they stay inside whole-stage
codegen and scale with executors:

* exact:          one hash-shuffle on md5(text) (map-side combinable)
* minhash LSH:    shingle → k salted-min signatures → band explode →
                  bucket aggregation (the classic shingle/minhash/band
                  pipeline; portable: signatures are lexicographic MINs
                  of salted md5 hex strings, reproducible in any engine)
* simhash:        64-bit majority-vote fingerprint over word hashes,
                  built from one shared SQL fragment (dialect-portable
                  between Spark SQL and DuckDB for oracle checking)
* ngram jaccard:  exact pairwise Jaccard over shingle sets, restricted
                  to LSH candidate pairs (never all-pairs at scale)

The LSH band join is written once, and every operator calls it: the
signature arithmetic (``_minhash_columns``), the
``"<band>|<minhash>"`` band table (``_band_table``), the bucket-width
cap and its audit (``drop_wide_buckets``/``wide_buckets``, also used by
``similarity.embedding_near_dup_pairs``) and the capped ``doc_a <
doc_b`` self-join (``_band_pairs``, which the simhash pairs share).

Scale notes: every shuffle here keys on a hash (uniform by
construction, no skew salting needed); the band join is self-balancing
because bucket sizes are bounded by near-dup cluster sizes; at 10^12
docs the LSH band count/width trade recall for shuffle volume.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# the minhash family's signature width and shingle length, shared by
# every LSH operator and its audit so their band tables cannot diverge
NUM_HASHES = 8
SHINGLE_WORDS = 3
# simhash near-dup pairs: fingerprint width, band count, Hamming bar
SIMHASH_BITS = 64
SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 8
# near_dup_clusters: the Jaccard bar of an edge, and the label-propagation
# rounds (pointer doubling converges in O(log diameter) rounds)
CLUSTER_MIN_JACCARD = 0.4
CLUSTER_MAX_ITER = 20
SPAN_WORDS = 3  # span length of remove_duplicate_spans


def shingle_table(
    documents: DataFrame,
    k: int = SHINGLE_WORDS,
    keep: tuple[str, ...] = ("doc_id",),
    gram: Callable[[Column], Column] = lambda s: s,
) -> DataFrame:
    """(keep..., sh): the word k-grams of ``text``, each passed
    through ``gram`` (identity: the shingle strings; ``F.md5``: their
    hashes), as an array<string> column (JVM transform). Every
    word-n-gram operator reads it: minhash shingles, decontamination
    n-gram hashes and the repetition bigrams.

    TWO-STAGE projection: the split word array is materialized in its
    own Project so the per-position lambda references a cheap column,
    not the ``split`` expression tree. Inlining the split inside
    ``slice(w, i, k)`` re-evaluates it per position (O(words²) per doc
    — measured 3-4× slower on sf0.1). Explode ``sh`` with
    ``explode_outer`` + a null filter, not ``explode``: under a plain
    explode Catalyst's InferFiltersFromGenerate infers ``size(sh) > 0``
    and pushes it below the staging, inlining the split again.

    Docs shorter than ``k`` words yield an EMPTY array — guarded with
    CASE WHEN because ``sequence(1, 0)`` would otherwise produce the
    descending [1, 0] and ``slice(start=0)`` throws, killing the task
    on any short document."""
    w = F.col("_w")
    grams = F.when(
        F.size(w) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (k - 1)),
            lambda i: gram(F.concat_ws(" ", F.slice(w, i, k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return documents.select(
        *keep, F.split(F.col("text"), " ").alias("_w")
    ).select(*keep, grams.alias("sh"))


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """Per-doc exact-dup labeling: (doc_id, text_hash, group_size, is_dup).

    Keeper = min doc_id per hash; one shuffle on the hash key.
    """
    df = documents.select("doc_id", F.md5(F.col("text")).alias("text_hash"))
    w = Window.partitionBy("text_hash")
    return (
        df.withColumn("group_size", F.count("*").over(w))
        .withColumn("keeper_id", F.min("doc_id").over(w))
        .withColumn("is_dup", F.col("doc_id") != F.col("keeper_id"))
        .select("doc_id", "text_hash", "group_size", "keeper_id", "is_dup")
    )


def _minhash_columns(
    set_col: str, num_hashes: int
) -> tuple[list[Column], list[Column]]:
    """The signature arithmetic as two projections, the second selected
    over the first: digests ``_d{d}`` = md5(f"{d}:" + shingle) over the
    array column ``set_col``, one per four hashes, then ``minhash_i`` =
    min of the (i mod 4)-th 8-hex-char window of ``_d{i//4}``."""

    def digest_col(d: int) -> Column:
        # NB: the lambda must stay single-arg — pyspark passes
        # (element, index) to two-arg lambdas, which would clobber the salt
        salt = F.lit(f"{d}:")
        return F.transform(
            F.col(set_col), lambda s: F.md5(F.concat(salt, s))
        ).alias(f"_d{d}")

    def window_min(i: int) -> Column:
        off = 1 + 8 * (i % 4)
        return F.array_min(
            F.transform(F.col(f"_d{i // 4}"), lambda h: F.substring(h, off, 8))
        ).alias(f"minhash_{i}")

    return (
        [digest_col(d) for d in range((num_hashes + 3) // 4)],
        [window_min(i) for i in range(num_hashes)],
    )


def minhash_signatures(
    documents: DataFrame,
    num_hashes: int = NUM_HASHES,
) -> DataFrame:
    """(doc_id, minhash_0..minhash_{k-1}) — minhash_i is the
    lexicographic min over shingles of the (i mod 4)-th 8-hex-char
    window of md5(f"{i//4}:" + shingle).

    Min over hex windows of salted digests is a valid min-wise family
    and engine-portable (md5 + substring + string min exist
    everywhere); carving 4 windows per digest needs only
    ceil(num_hashes/4) md5 evaluations per shingle instead of
    num_hashes (measured 2.4× faster at the default 8 hashes — md5 is
    the hot loop of the whole dedup family). The digest arrays live in
    their own projection: CollapseProject keeps non-cheap expressions
    that are referenced more than once in a separate stage, so each
    digest is computed once per shingle, and the plan stays MAP-ONLY
    (no shuffle for the signature table).
    """
    digests, mins = _minhash_columns("sh", num_hashes)
    df = shingle_table(documents)
    return df.select("doc_id", *digests).select("doc_id", *mins)


def _shingled_signatures(documents: DataFrame) -> DataFrame:
    """``minhash_signatures`` of the docs that have one. Shingle-less
    docs (< k words) have NULL signatures, which would all collide into
    one bucket (the oracle's UNPIVOT drops NULL cells).

    They are excluded by the cheap word-count predicate "≥ k words" on
    the DOCUMENTS side, not by ``where(minhash_0 IS NOT NULL)`` after
    signature computation, and that matters for the plan: Catalyst
    pushes a post-signature null filter below the repartition Exchange
    into the scan stage and INLINES the whole shingle→md5→min
    expression tree into the Filter condition (with ``split``
    re-inlined per slice — the O(words²) form the staged projection
    exists to avoid), so the full signature pipeline would run an extra
    time, single-core, before the shuffle (measured: ~2× the whole
    query at sf0.1). The one-split predicate pushes down for free
    instead (guide §2.4/§1 — keep expensive expressions out of
    pushed-down filters)."""
    return minhash_signatures(
        documents.where(F.size(F.split(F.col("text"), " ")) >= SHINGLE_WORDS)
    )


def _band_table(sigs: DataFrame) -> DataFrame:
    """(doc_id, bucket): one row per doc and band, bucket =
    ``"<band>|<minhash_band>"`` (each signature position is one band,
    r=1). ``sigs`` must hold no NULL signature: concat_ws drops NULLs,
    so every shingle-less doc would share the bare band-index bucket."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.concat_ws("|", F.lit(str(k)), F.col(f"minhash_{k}"))
                for k in range(NUM_HASHES)
            ])
        ).alias("bucket"),
    )


def wide_buckets(bands: DataFrame, max_bucket_size: int) -> DataFrame:
    """(bucket, count) of the buckets of ``bands`` wider than
    ``max_bucket_size`` — exactly what ``drop_wide_buckets`` removes at
    the same cap, so an audit over the same band table reports what a
    capped pair join skipped (no-silent-caps rule)."""
    return bands.groupBy("bucket").count().where(F.col("count") > max_bucket_size)


def drop_wide_buckets(bands: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """``bands`` without its buckets wider than ``max_bucket_size``
    (``None``: uncapped). A degenerate bucket (a boilerplate shingle
    shared by millions of docs, a constant-vector cluster) would make
    the within-bucket pair join quadratic in that bucket alone. The
    wide-bucket set is small, so it is broadcast into a left-anti join."""
    if max_bucket_size is None:
        return bands
    wide = wide_buckets(bands, max_bucket_size)
    return bands.join(F.broadcast(wide.select("bucket")), "bucket", "left_anti")


def _band_pairs(
    bands: DataFrame, max_bucket_size: int | None, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Distinct (doc_a, doc_b, <c>_a, <c>_b for c in ``carry``) with
    doc_a < doc_b, over docs sharing at least one bucket of ``bands``
    (doc_id, bucket, *carry) once ``drop_wide_buckets`` has applied the
    cap. ``carry`` rides per-doc columns through the self-join, so no
    caller joins them back onto the pairs."""
    bands = drop_wide_buckets(bands, max_bucket_size)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carry for s in "ab"],
        )
        .distinct()
    )


def minhash_lsh_buckets(documents: DataFrame) -> DataFrame:
    """LSH buckets with >1 member: (band, band_hash, n_docs, min_doc_id,
    max_doc_id). Each signature position is one band (r=1)."""
    sigs = _shingled_signatures(documents)
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(k).alias("band"),
                    F.col(f"minhash_{k}").alias("band_hash"),
                )
                for k in range(NUM_HASHES)
            ])
        ).alias("b"),
    ).select("doc_id", "b.band", "b.band_hash")
    return (
        bands.groupBy("band", "band_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def oversize_lsh_buckets(documents: DataFrame, max_bucket_size: int) -> DataFrame:
    """(bucket, count) band-buckets that ``ngram_jaccard_pairs`` (and so
    ``near_dup_clusters``) skips at the same cap — run/log this before
    a capped dedup pass. Same band table as the pairs, shingle-less
    docs excluded, so the audit reports no bucket that pair generation
    never creates."""
    return wide_buckets(_band_table(_shingled_signatures(documents)), max_bucket_size)


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.0,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Exact shingle-set Jaccard for LSH candidate pairs only.

    (doc_a, doc_b, jaccard) — the expensive all-pairs product is
    avoided by the LSH pre-filter: docs sharing a ``_band_table``
    bucket, buckets wider than ``max_bucket_size`` dropped (audit them
    with ``oversize_lsh_buckets``). At ``threshold=0.0`` the pairs are
    every candidate pair of the band join.

    ONE combined pass (round-3 VERDICT item 5): the distinct shingle set
    and the minhash signature are derived from a single scan→shingle
    projection and checkpointed together (1 row/doc). Hashing the
    DISTINCT set yields the same signature as the multiset — min is
    duplicate-insensitive — so values are unchanged; the previous layout
    ran the scan→split→shingle pipeline twice (once for signatures, once
    for Jaccard sets) and materialized two tables. At 10^12 docs this is
    "persist ONE doc-level dedup-feature table", which the clustering
    chain then reuses for candidates AND exact verification. The
    checkpoint feeds the cap aggregation and BOTH sides of the
    self-join, which would otherwise recompute the shingle→md5 pipeline
    3×.

    The verify stage intersects HASHED shingle sets, not the raw
    strings: each distinct shingle is replaced by the top 60 bits of the
    md5 digest the signature pass already computes (``conv(hex,16,10)``
    → bigint). Jaccard over an (effectively) injective hash of the sets
    equals Jaccard over the sets themselves; a collision would need two
    distinct shingles of ONE candidate pair's union to share a 60-bit
    prefix (P < |union|²·2⁻⁶¹ ≈ 1e-15 per pair), and the DuckDB oracle —
    which verifies on the raw strings — pins equality on every test
    corpus. The win is the verify join's payload: 8-byte longs instead
    of ~20-char strings cut the shuffled bytes ~4× and make
    array_intersect integer-keyed (measured 2× on the verify stage,
    5.0 s → 2.45 s at sf0.1; the checkpointed feature table also drops
    the raw-string column entirely).
    """
    sets = shingle_table(documents).select(
        "doc_id", F.array_distinct("sh").alias("sset")
    )
    digests, mins = _minhash_columns("sset", NUM_HASHES)
    digs = sets.select("doc_id", "sset", *digests)
    # hashed shingle set for the verify stage: top 60 bits of the d=0
    # digest (md5 of distinct inputs → distinct outputs w.h.p.; the
    # array_distinct guards the 15-hex truncation, P(collide) ≈ 1e-15
    # per doc). Raw shingle strings never reach the checkpoint.
    hset = F.array_distinct(
        F.transform(
            F.col("_d0"),
            lambda h: F.conv(F.substring(h, 1, 15), 16, 10).cast("long"),
        )
    ).alias("hset")
    combined = digs.select("doc_id", hset, *mins).localCheckpoint()

    # NULL signatures (shingle-less docs) are filtered AFTER the
    # checkpoint, where the filter cannot inline the signature pipeline
    bands = _band_table(combined.where(F.col("minhash_0").isNotNull()))
    pairs = _band_pairs(bands, max_bucket_size)
    sets_df = combined.select("doc_id", "hset")
    return (
        pairs.join(sets_df.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("hset", "set_a"), "doc_a")
        .join(sets_df.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("hset", "set_b"), "doc_b")
        .withColumn(
            # |A∪B| = |A|+|B|-|A∩B| — valid because hset is
            # array_distinct per doc, so each side is duplicate-free;
            # this drops the array_union materialization (the verify
            # stage's most expensive alloc) and computes ONE set
            # intersection per pair instead of intersect+union. Same
            # ints → identical double division; the >0 guard is the
            # same condition (union empty ⟺ both sets empty).
            "_inter", F.size(F.array_intersect("set_a", "set_b")),
        )
        .withColumn(
            "jaccard",
            F.when(
                (F.size("set_a") + F.size("set_b") - F.col("_inter")) > 0,
                F.col("_inter")
                / (F.size("set_a") + F.size("set_b") - F.col("_inter")),
            ).otherwise(F.lit(0.0)),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def near_dup_clusters(documents: DataFrame) -> DataFrame:
    """Connected components over near-dup pairs → canonical doc per
    cluster: (doc_id, cluster_id, cluster_size, is_canonical).

    Edges = ngram-Jaccard pairs ≥ ``CLUSTER_MIN_JACCARD`` (LSH-bounded,
    never all-pairs). Components via iterative min-label propagation: each
    round every node takes min(own label, neighbors' labels); the
    fixpoint assigns every node the minimum doc_id reachable in its
    component — a deterministic result independent of iteration order,
    which is what makes it oracle-checkable (DuckDB recursive CTE).

    Scale notes: each round is (a) a neighbor-min propagation (one
    shuffle join on doc_id) followed by (b) a pointer-doubling hop
    (label := label of label), which halves chain lengths — together
    they converge in O(log diameter) rounds instead of O(diameter).
    ``localCheckpoint`` truncates the growing plan lineage per round
    (on a cluster: ``checkpoint`` to durable storage). The iteration
    runs over EDGE-TOUCHED nodes only — isolated docs are fixpoints
    from round 0, so at 10^12 docs the per-round joins move the
    near-dup subgraph (∝ duplicate mass), not the corpus; singletons
    rejoin via one final left join.
    """
    pairs = ngram_jaccard_pairs(documents, CLUSTER_MIN_JACCARD)
    # both directions from ONE pass over the pairs subtree: a
    # union(pairs, pairs.reversed) plans the band-join + verify-join
    # chain TWICE (no CSE across union branches); the explode keeps a
    # single subtree and the checkpoint materializes the edge list for
    # the iteration
    edges = pairs.select(
        F.explode(F.array(
            F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
            F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
        )).alias("e")
    ).select("e.src", "e.dst").localCheckpoint()

    # both edge directions are present, so src alone covers every
    # edge-touched node
    labels = (
        edges.select(F.col("src").alias("doc_id")).distinct()
        .withColumn("cluster_id", F.col("doc_id"))
    )
    for _ in range(CLUSTER_MAX_ITER):
        neighbor_min = (
            edges.join(labels, edges["src"] == labels["doc_id"])
            .groupBy("dst")
            .agg(F.min("cluster_id").alias("nmin"))
        )
        l1 = labels.join(
            neighbor_min, labels["doc_id"] == neighbor_min["dst"], "left"
        ).select(
            "doc_id",
            F.col("cluster_id").alias("_old"),
            F.least(
                F.col("cluster_id"), F.coalesce("nmin", "cluster_id")
            ).alias("cluster_id"),
        )
        # pointer doubling: label(x) := label(label(x)) — labels are
        # doc_ids, so the self-join always hits; min-monotone, same
        # fixpoint, exponentially faster on chains
        hop = l1.select(
            F.col("doc_id").alias("_k"), F.col("cluster_id").alias("_jump")
        )
        staged = (
            l1.join(hop, l1["cluster_id"] == hop["_k"])
            .select(
                "doc_id", "_old",
                F.least(F.col("cluster_id"), F.col("_jump")).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        # convergence check is a scan over the checkpointed rows — the
        # old label rides along, so no extra join per round
        changed = staged.where(F.col("cluster_id") != F.col("_old")).count()
        labels = staged.select("doc_id", "cluster_id")
        if changed == 0:
            break

    # singletons (never in any pair) are their own clusters — one left
    # join, no iteration cost for the overwhelming majority of a corpus
    full = documents.select("doc_id").join(labels, "doc_id", "left")
    full = full.withColumn(
        "cluster_id", F.coalesce("cluster_id", "doc_id")
    )
    w = Window.partitionBy("cluster_id")
    return (
        full.withColumn("cluster_size", F.count("*").over(w))
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id", "cluster_id", "cluster_size", "is_canonical")
    )


def remove_duplicate_spans(documents: DataFrame) -> DataFrame:
    """C4-style span-level corpus dedup: chunk every document into
    consecutive ``SPAN_WORDS``-word spans, keep only the FIRST
    occurrence of each span corpus-wide (first = lowest (doc_id, pos)),
    and reassemble each document from its surviving spans.

    Returns (doc_id, clean_text, n_spans, n_kept, n_removed) for EVERY
    input doc — a fully-despanned doc keeps its row with clean_text ''
    so downstream length filters (not silent drops) decide its fate.

    This is the corpus-level "discard repeated three-sentence spans"
    rule from C4 (Raffel et al., JMLR 2020 §2.2) re-expressed over word
    spans: our synthetic docs carry no sentence punctuation, and the
    operator is agnostic to what the span tokenizer is.

    Scale shape: the first-occurrence winner per span is
    min(struct(doc_id, pos)) — a plain aggregation, NOT a window, and
    the winner rows ARE the kept occurrences, so no join back to the
    occurrence table is needed. That makes the operator skew-immune by
    construction: a boilerplate span repeated 10^9 times collapses to
    one row per map task in the partial (map-side) combine before the
    shuffle ever happens, where a row_number window would sort the
    entire hot key on one reducer. Remaining shuffles: the span-keyed
    agg (combiner-reduced) and the doc_id-keyed reassembly. No window,
    no pair join, no driver-side state. The reassembly's collect_list
    is bounded by a single document's span count — the same per-row
    bound as the document itself, not a corpus-scale aggregate.
    """
    w = F.col("_w")
    n_spans = F.ceil(F.size(w) / F.lit(SPAN_WORDS)).cast("int")
    span_structs = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.concat_ws(
                " ", F.slice(w, i * SPAN_WORDS + 1, SPAN_WORDS)
            ).alias("span"),
        ),
    )
    # the split word array gets its own projection (shingle_table's
    # hot-loop staging: inlining split inside the lambda is O(words²)).
    # Empty text is filtered BEFORE splitting: split('', ' ') is ['']
    # (one phantom '' span) — without the guard every empty doc would
    # contend corpus-wide for the '' span and skew the audit counts
    # (round-3 ADVICE); an empty doc has n_spans = 0.
    staged = documents.where(F.length(F.col("text")) > 0).select(
        "doc_id", F.split(F.col("text"), " ").alias("_w")
    ).select("doc_id", F.explode(span_structs).alias("s"))
    spans = staged.select("doc_id", F.col("s.pos").alias("pos"), F.col("s.span").alias("span"))
    # winner per span = lowest (doc_id, pos); struct-min combines
    # map-side, and the winner rows are themselves the kept occurrences
    kept = (
        spans.groupBy("span")
        .agg(F.min(F.struct("doc_id", "pos")).alias("w"))
        .select(
            F.col("w.doc_id").alias("doc_id"),
            F.col("w.pos").alias("pos"),
            "span",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("pos", "span"))
                    ),
                    lambda s: s["span"],
                ),
            ).alias("clean_text"),
        )
    )
    totals = documents.select(
        "doc_id",
        F.when(
            F.length(F.col("text")) > 0,
            F.ceil(F.size(F.split(F.col("text"), " ")) / F.lit(SPAN_WORDS)),
        ).otherwise(F.lit(0)).cast("int").alias("n_spans"),
    )
    return (
        totals.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_spans",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("n_spans") - F.coalesce("n_kept", F.lit(0)))
            .cast("int").alias("n_removed"),
        )
    )


def incremental_dedup(new_docs: DataFrame, old_docs: DataFrame) -> DataFrame:
    """Cross-snapshot dedup — the shape every recurring crawl runs:
    flag each NEW-snapshot doc against the EXISTING corpus without ever
    re-deduping the old corpus against itself.

    Returns one row per new doc: (doc_id, exact_dup, n_near_hits,
    near_dup) where exact_dup = an old doc has identical text and
    n_near_hits = how many distinct old docs share ≥1 minhash LSH band.

    Scale shape: the old snapshot contributes only its text-hash set
    and its band table — both precomputable/materialized once per
    snapshot (at 10^12 docs they live as bucketed tables; here they are
    built inline). Both probes are hash-keyed joins (md5 / band hash —
    uniform keys), aggregated to per-doc flags before the final
    doc_id-keyed assembly join. The new snapshot is scanned once per
    probe; nothing is ever joined all-pairs.
    """
    new_hashed = new_docs.select("doc_id", F.md5("text").alias("h"))
    old_hashes = old_docs.select(F.md5("text").alias("h")).distinct()
    exact = (
        new_hashed.join(old_hashes.withColumn("_hit", F.lit(1)), "h", "left")
        .select("doc_id", (F.col("_hit").isNotNull()).alias("exact_dup"))
    )

    near = (
        _band_table(_shingled_signatures(new_docs))
        .join(
            _band_table(_shingled_signatures(old_docs)).select(
                F.col("bucket"), F.col("doc_id").alias("old_id")
            ),
            "bucket",
        )
        .groupBy("doc_id")
        .agg(F.count_distinct("old_id").cast("bigint").alias("n_near_hits"))
    )
    return (
        exact.join(near, "doc_id", "left")
        .select(
            "doc_id",
            "exact_dup",
            F.coalesce("n_near_hits", F.lit(0).cast("bigint")).alias("n_near_hits"),
            (F.coalesce("n_near_hits", F.lit(0)) > 0).alias("near_dup"),
        )
    )


# ---- simhash: shared SQL fragment so Spark and any ANSI oracle agree ----

def simhash_sql_expr(word_expr: str, bits: int) -> str:
    """Dialect-portable SQL aggregate expression computing a
    ``bits``-wide simhash over a pre-exploded word column ``word_expr``
    (wrap with the engine's unnest/explode and GROUP BY doc).

    Uses only md5/substring/instr/%/CASE/SUM — identical semantics
    under Spark SQL and DuckDB, which is what lets the DuckDB oracle
    verify the Spark operator bit-for-bit. At ``bits=64`` the MSB term
    is the two's-complement value -2^63 so the fingerprint stays inside
    signed BIGINT on both engines.
    """
    bit_terms = []
    for b in range(bits):
        hx = b // 4 + 1
        power = 2 ** (3 - b % 4)
        nib = f"instr('0123456789abcdef', substring(md5({word_expr}), {hx}, 1)) - 1"
        bit = f"CASE WHEN ({nib}) % {power * 2} >= {power} THEN 1 ELSE -1 END"
        weight = -(2 ** 63) if (bits == 64 and b == 0) else 2 ** (bits - 1 - b)
        bit_terms.append(
            f"CASE WHEN SUM({bit}) > 0 THEN CAST({weight} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        )
    bits_sum = " + ".join(bit_terms)
    return bits_sum  # to be used inside: SELECT doc_id, <this> FROM ... exploded words w


def simhash_multi(documents: DataFrame, widths: tuple[int, ...]) -> DataFrame:
    """Simhash fingerprints at several widths in ONE pass/shuffle:
    (doc_id, simhash16, simhash64, ...). Width 64 is the production
    width (two's-complement MSB, signed BIGINT).

    Bit position b is the same nibble test at every width (hex char
    b//4+1 of md5(word)), only the weights differ — so the per-doc
    vote sums are aggregated once for max(widths) positions and each
    width's fingerprint is a free post-aggregation projection. One
    groupBy(doc_id) with map-side partial aggregation, exactly the
    cost of the widest single-width call.
    """
    max_bits = max(widths)
    # Vote extraction stays the per-nibble instr/substring arithmetic
    # of simhash_sql_expr. A conv()-based variant (parse the first 16
    # hex chars into two integer chunks once, then 64 shift/AND bit
    # tests) was MEASURED SLOWER in an interleaved quiet-window A/B at
    # sf0.1 (old 1.6-1.9 s vs conv 1.9-2.1 s): conv's radix conversion
    # costs more than 64 codegen'd instr lookups save. Negative result
    # recorded so the next round does not re-try it.
    words = documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).withColumn("h", F.md5("word"))
    aggs = []
    for b in range(max_bits):
        hx = b // 4 + 1
        power = 2 ** (3 - b % 4)
        nib = F.expr(f"instr('0123456789abcdef', substring(h, {hx}, 1)) - 1")
        bit = F.when((nib % (power * 2)) >= power, 1).otherwise(-1)
        aggs.append(F.sum(bit).alias(f"s{b}"))
    per_doc = words.groupBy("doc_id").agg(*aggs)
    outs = []
    for bits in widths:
        total = None
        for b in range(bits):
            weight = -(2 ** 63) if (bits == 64 and b == 0) else 2 ** (bits - 1 - b)
            term = (
                F.when(F.col(f"s{b}") > 0, F.lit(weight).cast("bigint"))
                .otherwise(F.lit(0).cast("bigint"))
            )
            total = term if total is None else total + term
        outs.append(total.cast("bigint").alias(f"simhash{bits}"))
    return per_doc.select("doc_id", *outs)


def simhash_near_dup_pairs(
    documents: DataFrame, max_bucket_size: int | None = 10_000
) -> DataFrame:
    """(doc_a, doc_b, hamming) — simhash near-dup pairs.

    The classic two-stage shape (Manku et al., WWW'07 pattern): band
    the ``SIMHASH_BITS``-wide fingerprint into ``SIMHASH_BANDS`` chunks,
    bucket-join docs sharing any chunk, then keep candidates within
    ``SIMHASH_MAX_HAMMING`` by exact Hamming distance via
    bit_count(xor). Never all-pairs; bucket width capped like the
    minhash band join.

    Contract: the output is exactly the pairs within
    ``SIMHASH_MAX_HAMMING`` (8) that share at least one exact 16-bit
    band (below the bucket cap). Recall is complete only up to Hamming
    distance 3: a pair within d < ``SIMHASH_BANDS`` shares a band by
    pigeonhole, while a pair at 4..8 is returned only when its differing
    bits happen to leave one band equal. The DuckDB oracle bands the
    same way.
    """
    band_width = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << band_width) - 1
    # Materialize the fingerprint table ONCE (1 row/doc): it feeds the
    # bucket-cap aggregation and BOTH sides of the band self-join —
    # without this the word-explode + 64-vote aggregation pipeline runs
    # 4× (the r05 plan had 4 full scans / 28 HashAggregates; measured
    # ~2.4× the whole query at sf0.1). Same persist-the-feature-table
    # layout as ngram_jaccard_pairs; at 10^12 docs the fingerprint
    # table is written to storage once per snapshot.
    sh = simhash_multi(documents, (SIMHASH_BITS,)).withColumnRenamed(
        f"simhash{SIMHASH_BITS}", "simhash"
    ).localCheckpoint()
    # (x >> s) & mask is shift-mode agnostic (mask strips sign-extension)
    bands = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.concat_ws(
                ":", F.lit(str(i)),
                F.shiftright("simhash", i * band_width).bitwiseAND(F.lit(mask)),
            )
            for i in range(SIMHASH_BANDS)
        ])).alias("bucket"),
    )
    pairs = _band_pairs(bands, max_bucket_size, carry=("simhash",))
    return (
        pairs.withColumn(
            "hamming",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))).cast("int"),
        )
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )
