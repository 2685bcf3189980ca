"""Text-analysis operators: language ID, quality scoring, token
counting, document fingerprinting. All built-in JVM expressions —
column-pruned scans, no shuffles except the stated aggregations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import shingle_table

# tiny per-language stopword evidence sets (n-gram heuristic langid);
# deterministic and SQL-portable (the oracle replicates the same lists)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in"),
    "de": ("der", "die", "und", "das", "ist"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "et", "les", "des"),
    "zh": ("de", "shi", "le", "zai", "he"),
}

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

# BPE-ish tokenizer regex: letter runs, digit runs, or single symbols
TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def token_count() -> Column:
    """BPE-ish token count of ``text`` (``TOKEN_RE`` matches)."""
    return F.regexp_count(F.col("text"), F.lit(TOKEN_RE))


def _marker_hits(words: Column, markers: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.array_intersect(F.array_distinct(words), arr))


def _mean_word_len(words: Column) -> Column:
    """Mean length of the ``words`` split from ``text``, by the
    separator identity (chars - (words-1)) / words: exact for
    single-space-separated text, and the arithmetic the oracle runs."""
    n_words = F.size(words)
    return (F.length("text") - (n_words - 1)) / n_words


def language_id(documents: DataFrame) -> DataFrame:
    """(doc_id, lang_pred, lang_hits) — argmax of marker-set hits.

    Tie-break is deterministic: ``array_max`` compares the structs
    field-by-field (hits, then code), so equal hit counts pick the
    lexicographically-LARGEST language code (e.g. 'zh' over 'en').
    The oracle replicates the same struct-max, so both engines agree.
    """
    words = F.split("text", " ")
    structs = F.array(*[
        F.struct(
            _marker_hits(words, LANG_MARKERS[code]).alias("hits"),
            F.lit(code).alias("code"),
        )
        for code in sorted(LANG_MARKERS, reverse=True)
    ])
    best = F.array_max(structs)
    return documents.select(
        "doc_id",
        best["code"].alias("lang_pred"),
        best["hits"].cast("int").alias("lang_hits"),
    )


def quality_stats(documents: DataFrame) -> DataFrame:
    """Per-doc quality features + a composite score.

    (doc_id, n_words, n_tokens, avg_word_len, stopword_ratio,
    digit_ratio, quality_score) — all expressible in ANSI SQL for the
    oracle; the score is a fixed linear blend.
    """
    words = F.split("text", " ")
    n_words = F.size(words)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    n_digit_words = F.size(F.filter(words, lambda w: w.rlike("^[0-9]+$")))

    stopword_ratio = F.round(n_stop / n_words, 6)
    digit_ratio = F.round(n_digit_words / n_words, 6)
    quality = F.round(
        F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.5
        + stopword_ratio * 0.3
        + (1.0 - digit_ratio) * 0.2,
        6,
    )
    return documents.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        token_count().cast("bigint").alias("n_tokens"),
        F.round(_mean_word_len(words), 6).alias("avg_word_len"),
        stopword_ratio.alias("stopword_ratio"),
        digit_ratio.alias("digit_ratio"),
        quality.alias("quality_score"),
    )


def fingerprints(documents: DataFrame) -> DataFrame:
    """(doc_id, fp_full, fp_sorted_vocab) — md5 of the text and of its
    sorted distinct vocabulary (order-insensitive content fingerprint)."""
    words = F.split("text", " ")
    return documents.select(
        "doc_id",
        F.md5("text").alias("fp_full"),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(words)))).alias(
            "fp_sorted_vocab"
        ),
    )


def corpus_profile(documents: DataFrame) -> DataFrame:
    """Distribution profile per language: (lang, n_docs, n_sources,
    total_chars, avg_chars, total_words, median_chars, p90_chars) —
    the corpus rollup + length-distribution behind curation thresholds
    (Gopher/FineWeb pick their length cutoffs from exactly these
    quantiles). Sums/averages and quantiles share ONE groupBy — the
    same single-shuffle rollup a 100 TB profiling pass runs nightly.

    Uses EXACT ``percentile`` so the DuckDB oracle (``quantile_cont``,
    identical linear interpolation — verified value-equal) can check
    it; at 10^12 rows swap in ``approx_percentile(col, q, accuracy)``
    — same plan shape, sketch-based partial aggregation instead of a
    per-group sort, identical column contract."""
    words = F.split("text", " ")
    return (
        documents.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.sum(F.length("text")).alias("total_chars"),
            F.round(F.avg(F.length("text")), 6).alias("avg_chars"),
            F.sum(F.size(words)).cast("bigint").alias("total_words"),
            F.round(F.percentile("n_chars", 0.5), 6).alias("median_chars"),
            F.round(F.percentile("n_chars", 0.9), 6).alias("p90_chars"),
        )
        .orderBy("lang")
    )


def token_set_prf(articles: DataFrame) -> DataFrame:
    """(url, precision, recall, f1): token-set P/R/F1 of each article's
    extracted ``text`` against its ``gold_text`` (CleanEval-style
    extraction evaluation, set-based).

    All JVM expressions (split on whitespace runs, array_distinct,
    array_intersect) — one map-only pass, no shuffle, ANSI-portable for
    the oracle. Empty tokens are removed (split yields [""] on an empty
    string, and leading/trailing whitespace injects "" tokens that
    would spuriously intersect), so empty prediction/gold genuinely
    yield P=R=F1=0.0 (not null) and the metric aggregates cleanly.
    """
    pred = F.array_remove(F.array_distinct(F.split(F.col("text"), r"\s+")), "")
    gold = F.array_remove(F.array_distinct(F.split(F.col("gold_text"), r"\s+")), "")
    n_pred = F.size(pred)
    n_gold = F.size(gold)
    n_inter = F.size(F.array_intersect(pred, gold))
    precision = F.when(n_pred > 0, n_inter / n_pred).otherwise(F.lit(0.0))
    recall = F.when(n_gold > 0, n_inter / n_gold).otherwise(F.lit(0.0))
    f1 = F.when(
        precision + recall > 0, 2 * precision * recall / (precision + recall)
    ).otherwise(F.lit(0.0))
    return articles.select(
        F.col("url"),
        F.round(precision, 6).alias("precision"),
        F.round(recall, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per doc: the fraction of all
    word-bigrams taken by the single most frequent bigram, plus the
    distinct-word fraction. High top-bigram fraction / low distinct
    fraction flag boilerplate and spam for corpus filtering.

    (doc_id, n_bigrams, top_bigram_count, top_bigram_frac,
    distinct_word_frac) — two hash shuffles (doc+bigram counts, then
    per-doc rollup), uniform keys.
    """
    words = F.split("text", " ")
    # explode_outer + null filter: see shingle_table
    exploded = (
        shingle_table(documents, 2)
        .select("doc_id", F.explode_outer("sh").alias("bigram"))
        .where(F.col("bigram").isNotNull())
    )
    per_doc = (
        exploded.groupBy("doc_id", "bigram").count()
        .groupBy("doc_id")
        .agg(
            F.max("count").cast("bigint").alias("top_bigram_count"),
            F.sum("count").cast("bigint").alias("n_bigrams"),
        )
    )
    base = documents.select(
        "doc_id",
        F.round(
            F.size(F.array_distinct(words)) / F.size(words), 6
        ).alias("distinct_word_frac"),
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.coalesce("top_bigram_count", F.lit(0)).cast("bigint")
            .alias("top_bigram_count"),
            F.when(
                F.col("n_bigrams") > 0,
                F.round(F.col("top_bigram_count") / F.col("n_bigrams"), 6),
            ).otherwise(F.lit(0.0)).alias("top_bigram_frac"),
            "distinct_word_frac",
        )
    )


WINNOW_K = 8  # winnowing gram length, in chars
WINNOW_WINDOW = 4  # winnowing window, in grams


def winnowing_fingerprints(documents: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS scheme): hash every k-char gram
    (k = ``WINNOW_K``), slide a window of ``WINNOW_WINDOW`` hashes,
    keep each window's minimum; the distinct selected hashes are the
    fingerprint set, guaranteeing any shared substring of length
    ≥ k+window-1 yields a shared fingerprint.

    All JVM expressions (transform/slice/array_min over substring
    hashes), map-only, ANSI-portable for the oracle. Texts with fewer
    grams than the window select the single global minimum; texts
    shorter than ``k`` yield no fingerprints. Output is compact:
    (doc_id, n_grams, n_fingerprints, fp_digest) with fp_digest =
    md5 of the sorted distinct selection.
    """
    k, window = WINNOW_K, WINNOW_WINDOW
    text = F.col("text")
    empty = F.array().cast("array<string>")
    n_grams_expr = F.length(text) - (k - 1)
    gram_hashes = F.when(
        n_grams_expr >= 1,
        F.transform(
            F.sequence(F.lit(1), n_grams_expr),
            lambda i: F.md5(text.substr(i, F.lit(k))),
        ),
    ).otherwise(empty)

    with_gh = documents.select("doc_id", text.alias("text")).withColumn(
        "_gh", gram_hashes
    )
    gh = F.col("_gh")
    n_windows = F.size(gh) - (window - 1)
    mins = (
        F.when(
            n_windows >= 1,
            F.transform(
                F.sequence(F.lit(1), n_windows),
                lambda w: F.array_min(F.slice(gh, w, window)),
            ),
        )
        .when(F.size(gh) >= 1, F.array(F.array_min(gh)))
        .otherwise(empty)
    )
    fps = F.array_sort(F.array_distinct(mins))
    return with_gh.select(
        "doc_id",
        F.size(gh).cast("bigint").alias("n_grams"),
        F.size(fps).cast("int").alias("n_fingerprints"),
        F.when(F.size(fps) > 0, F.md5(F.concat_ws("", fps))).alias("fp_digest"),
    )


# Gopher-style per-rule quality gates (Rae et al. 2021 §A1.1 shape,
# thresholds adapted): unlike quality_stats' composite score, each rule
# is a separate boolean so curation runs can report WHICH gate dropped
# each doc — the per-rule audit FineWeb/Dolma pipelines log.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_WORD_LEN = 3.0
GOPHER_MAX_WORD_LEN = 10.0
GOPHER_MIN_ALPHA_RATIO = 0.80
GOPHER_MIN_STOPWORDS = 2


def gopher_quality_flags(documents: DataFrame) -> DataFrame:
    """(doc_id, n_words, mean_word_len, alpha_ratio, n_stop_distinct,
    ok_n_words, ok_word_len, ok_alpha, ok_stop, keep) — Gopher-rule
    quality gates as independent booleans plus the conjunction.

    Map-only (flags must touch every doc exactly once; at 100 TB this
    rides the same scan as extraction output). All JVM expressions, no
    UDFs; every term is replicated verbatim in the DuckDB oracle.

    mean_word_len is ``quality_stats``' avg_word_len (one shared
    expression), so engines agree to the bit.
    """
    words = F.split("text", " ")
    n_words = F.size(words)
    mean_word_len = F.round(_mean_word_len(words), 6)
    # Gopher's rule is "contains at least one ALPHABETIC character" —
    # Unicode \p{L}, not an ASCII class: uppercase-only words (NASA, I)
    # and non-Latin scripts (Cyrillic, Greek, CJK) are alphabetic and
    # must not push real text under the 0.80 gate (round-3 ADVICE +
    # round-4 review). Java regex and DuckDB's RE2 agree on \p{L}, so
    # the oracle stays engine-exact.
    alpha_ratio = F.round(
        F.size(F.filter(words, lambda w: w.rlike("\\p{L}"))) / n_words, 6
    )
    n_stop = _marker_hits(words, STOPWORDS)
    ok_n_words = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    ok_word_len = (mean_word_len >= GOPHER_MIN_WORD_LEN) & (
        mean_word_len <= GOPHER_MAX_WORD_LEN
    )
    ok_alpha = alpha_ratio >= GOPHER_MIN_ALPHA_RATIO
    ok_stop = n_stop >= GOPHER_MIN_STOPWORDS
    return documents.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        alpha_ratio.alias("alpha_ratio"),
        n_stop.cast("int").alias("n_stop_distinct"),
        ok_n_words.alias("ok_n_words"),
        ok_word_len.alias("ok_word_len"),
        ok_alpha.alias("ok_alpha"),
        ok_stop.alias("ok_stop"),
        (ok_n_words & ok_word_len & ok_alpha & ok_stop).alias("keep"),
    )


def unigram_cross_entropy(documents: DataFrame) -> DataFrame:
    """(doc_id, n_words, avg_neg_logp) — per-doc average negative log
    probability under the corpus's own unigram LM: the CCNet/KenLM
    perplexity-filter shape (Wenzek et al. 2020) with the n-gram order
    cut to 1 so the model is exactly reproducible in the SQL oracle.
    High avg_neg_logp = improbable word mix = filter candidate.

    Scale shape: the LM table (word, logp) is ONE word-keyed shuffle
    with map-side combine; the corpus total is a broadcast cross join
    of a single aggregate row (never a driver collect of row data).
    Scoring joins the exploded corpus to the LM table — broadcast-able
    whenever the vocab fits an executor (web-scale top-K vocabs do; a
    trained LM is always a small dim against a 100 TB fact), then one
    doc_id-keyed aggregation. Train and score read the same corpus, so
    there is no OOV path (a held-out LM would add smoothing here).
    """
    words = documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    counts = words.groupBy("word").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("tot"))
    lm = counts.crossJoin(F.broadcast(total)).select(
        "word", F.log(F.col("n") / F.col("tot")).alias("logp")
    )
    return (
        words.join(F.broadcast(lm), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.round(F.avg(-F.col("logp")), 6).alias("avg_neg_logp"),
        )
    )


# fixed "trained" weights for the classifier stand-in: a linear model
# over the quality features (the FineWeb-Edu-style model-based filter
# slot — swap in learned weights without touching the plumbing)
CLASSIFIER_WEIGHTS = {
    "bias": -1.25,
    "n_words_per_100": 0.5,   # min(n_words, 200)/100
    "stopword_ratio": 2.0,
    "digit_ratio": -3.0,
    "avg_word_len_dev": -0.25,  # |avg_word_len - 5|
}
CLASSIFIER_THRESHOLD = 0.15


def quality_classifier(documents: DataFrame) -> DataFrame:
    """(doc_id, score, keep) — model-based quality filter stand-in: a
    linear scorer over the quality features squashed with x/(1+|x|).

    The squash is deliberately rational (add/mul/div/abs only — exact
    IEEE ops), NOT a sigmoid: exp() differs in final ULPs across libm
    implementations, while this score is bit-identical between Spark
    and any oracle engine evaluating the same left-to-right expression.
    Map-only; the weights are a broadcast-free literal dim (a learned
    model's coefficients ship in the plan itself).
    """
    w = CLASSIFIER_WEIGHTS
    q = quality_stats(documents)
    x = (
        F.lit(w["bias"])
        + F.least(F.col("n_words"), F.lit(200)) / 100.0 * w["n_words_per_100"]
        + F.col("stopword_ratio") * w["stopword_ratio"]
        + F.col("digit_ratio") * w["digit_ratio"]
        + F.abs(F.col("avg_word_len") - 5.0) * w["avg_word_len_dev"]
    )
    score = F.round(x / (F.lit(1.0) + F.abs(x)), 6)
    return q.select(
        "doc_id",
        score.alias("score"),
        (score >= CLASSIFIER_THRESHOLD).alias("keep"),
    )


def normalize_text(documents: DataFrame) -> DataFrame:
    """(doc_id, norm_text, changed) — the canonicalization pass a
    pipeline runs before hashing/dedup: lowercase, strip ASCII control
    characters, collapse whitespace runs to single spaces, trim.
    Map-only, pure JVM regexp (the regexes are Java∩RE2 so the oracle
    replicates them span-for-span); Unicode NFC is deliberately out of
    scope here (no engine-portable primitive — it would be a Pandas-UDF
    stage if an input corpus needed it)."""
    t = F.lower(F.col("text"))
    t = F.regexp_replace(t, "[\\x00-\\x08\\x0e-\\x1f\\x7f]", "")
    t = F.regexp_replace(t, "[ \\t\\n\\r\\x0b\\x0c]+", " ")
    t = F.regexp_replace(t, "^ | $", "")
    return documents.select(
        "doc_id",
        t.alias("norm_text"),
        (t != F.col("text")).alias("changed"),
    )
