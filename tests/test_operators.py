"""Training-data operators vs DuckDB mini-oracles at sf0.001 (the same
comparison the driver runs at sf0.01), plus behavioral checks for the
rows-only operators."""

from __future__ import annotations

import json
import math
import zlib

from pyspark.sql import functions as F

import pytest

import __spark_entry__ as entry

from .conftest import SF_TINY
from .harness import compare_query


@pytest.mark.parametrize("name", sorted(entry.oracle_sql()))
def test_query_matches_oracle(spark, name):
    res = compare_query(spark, name, entry.queries()[name],
                        entry.oracle_sql()[name], SF_TINY)
    assert res["status"] == "OK", res


def test_all_queries_run(spark):
    oracles = entry.oracle_sql()
    for name, fn in entry.queries().items():
        if name in oracles:
            continue  # covered above
        df = fn(spark, SF_TINY)
        assert df.count() >= 0


def test_lsh_topk_subset_of_brute_force_ranking(spark):
    """LSH results must carry true cosines (spot-check vs python)."""
    import duckdb

    rows = entry._q_similarity_lsh_topk(spark, SF_TINY).collect()
    # recall guard: multi-probe must yield a full top-k at sandbox scale
    # (a zero-recall bucket miss used to pass vacuously — ADVICE r1)
    assert len(rows) == 10
    emb = {r[0]: r[1] for r in duckdb.sql(
        f"select vec_id, embedding from '{SF_TINY}/embeddings.parquet'").fetchall()}
    q = emb[0]
    for r in rows:
        v = emb[r.vec_id]
        dot = sum(float(a) * float(b) for a, b in zip(v, q))
        cos = dot / (math.sqrt(sum(float(a) ** 2 for a in v))
                     * math.sqrt(sum(float(b) ** 2 for b in q)))
        assert abs(cos - r.cosine) < 1e-5


_MEDIA_TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "漢字 文書 解析 器 の 試験",
    "café au lait réchauffé " * 7 + "fin",
    "a",
    " ".join(f"w{i}" for i in range(93)),
]


def _media_docs(n: int = 60) -> list[tuple[int, str]]:
    """(doc_id, text) over every png/wav/mp4 and pdf-producer rotation."""
    return [(d, _MEDIA_TEXTS[d % len(_MEDIA_TEXTS)]) for d in range(n)]


def test_media_features_real_decode():
    """Synthesized PNG/WAV assets decode to their analytic features;
    video is a container-level stub."""
    from readabilitysax_spark.operators.multimodal import decode_media, synth_asset

    for d, text in _media_docs():
        media_type, payload = synth_asset(d, text)
        ok, f = decode_media(media_type, payload)
        if d % 3 == 0:
            assert media_type == "image/png" and ok
            assert (f["width"], f["height"]) == (1 + d % 64, 1 + d % 48)
            assert (f["bit_depth"], f["color_type"]) == (8, 0)
            assert len(payload) == 68 + f["height"] * (1 + f["width"])
        elif d % 3 == 1:
            assert media_type == "audio/wav" and ok
            assert f["sample_rate"] == 8000 + (d % 5) * 1000
            assert f["n_samples"] == 400 + d % 100
            assert f["duration_s"] == round(f["n_samples"] / f["sample_rate"], 6)
            assert len(payload) == 44 + 2 * f["n_samples"]
        else:
            assert media_type == "video/mp4"
            assert not ok  # video decode is a documented stub
            assert f["container_brand"] == "isom"
            assert f["width"] is None and f["sample_rate"] is None
            assert len(payload) == 16 + len(text.encode("utf-8"))


def test_audit_row_analytic_values():
    """Every media_audit column of one row against its analytic value
    (the same laws the media_pipeline DuckDB oracle encodes)."""
    import hashlib

    from readabilitysax_spark.operators.multimodal import (
        MEDIA_AUDIT_SCHEMA,
        audit_row,
    )
    from readabilitysax_spark.sources.pdfgen import expected_pdf_text

    for d, text in _media_docs():
        row = audit_row(d, text, max_side=32, every_n=100)
        assert list(row) == MEDIA_AUDIT_SCHEMA.names
        w, h = 1 + d % 64, 1 + d % 48
        m = max(w, h)
        nw, nh = (w, h) if m <= 32 else (max(1, w * 32 // m), max(1, h * 32 // m))
        frames = 400 + d % 100
        rate = 8000 + (d % 5) * 1000
        if d % 3 == 0:
            media = ("image/png", 68 + h * (1 + w), True, w, h, None, None, None,
                     True, nw, nh, 68 + nh * (1 + nw), True, 1, 68 + h * (1 + w))
        elif d % 3 == 1:
            n = -(-frames // 100)
            media = ("audio/wav", 44 + 2 * frames, True, None, None, rate,
                     frames, round(frames / rate, 6), None, None, None, None,
                     True, n, 2 * n)
        else:
            media = ("video/mp4", 16 + len(text.encode("utf-8")), False, None,
                     None, None, None, None, None, None, None, None, False, 0, 0)
        pdf_text = expected_pdf_text(text)
        n_words = len(text.split(" "))
        assert tuple(row.values()) == (
            d, *media, True, -(-n_words // 40), len(pdf_text),
            hashlib.md5(pdf_text.encode("utf-8")).hexdigest(),
        ), d


def test_media_audit_schema(spark):
    """The one-pass audit keeps the column order and types of the
    staged feature/resize/frames/pdf join it replaced."""
    from readabilitysax_spark.operators.multimodal import media_audit

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert media_audit(docs).schema.simpleString() == (
        "struct<media_id:bigint,media_type:string,n_bytes:bigint,"
        "decode_ok:boolean,width:int,height:int,sample_rate:int,"
        "n_samples:bigint,duration_s:double,resize_ok:boolean,new_width:int,"
        "new_height:int,resized_bytes:bigint,frames_ok:boolean,n_frames:int,"
        "frame_bytes:bigint,pdf_ok:boolean,n_pdf_pages:int,pdf_text_len:int,"
        "pdf_text_md5:string>"
    )


def _schema_json(*fields: tuple[str, str]) -> str:
    """``StructType.json()`` of all-nullable (name, type) fields."""
    return json.dumps(
        {"fields": [{"metadata": {}, "name": n, "nullable": True, "type": t}
                    for n, t in fields],
         "type": "struct"},
        separators=(",", ":"),
    )


_ARTICLE_FIELDS = (
    ("url", "string"), ("title", "string"), ("text", "string"),
    ("text_length", "long"), ("score", "double"), ("next_page", "string"),
    ("skip_level", "integer"), ("error", "boolean"), ("html_bytes", "long"),
    ("partition_id", "integer"), ("wall_ms", "long"),
)


def test_arrow_operator_spark_schemas(spark):
    """The Spark schema each Arrow operator derives from its Arrow
    schema: names, types, order and nullability. Passthrough columns
    follow the input's column order and keep their types, a
    TIMESTAMP_NTZ one included."""
    from readabilitysax_spark.operators.extract import (
        extract_articles,
        extract_outlinks,
    )
    from readabilitysax_spark.sources.pages import synthesize_pages

    pages = spark.createDataFrame(
        [], "url string, html binary, warc_ts timestamp, lang string, "
        "seen timestamp_ntz",
    )
    docs = spark.createDataFrame(
        [], "doc_id long, text string, source string, lang string"
    )
    assert extract_articles(pages).schema.json() == _schema_json(*_ARTICLE_FIELDS)
    assert extract_articles(
        pages, passthrough=("lang", "seen", "warc_ts")
    ).schema.json() == _schema_json(
        *_ARTICLE_FIELDS, ("warc_ts", "timestamp"), ("lang", "string"),
        ("seen", "timestamp_ntz"),
    )
    assert extract_outlinks(docs).schema.json() == _schema_json(
        ("url", "string"), ("link_pos", "integer"), ("href", "string"),
        ("anchor_text", "string"),
    )
    assert synthesize_pages(docs).schema.json() == _schema_json(
        ("url", "string"), ("warc_ts", "timestamp"), ("html", "binary"),
        ("text", "string"), ("lang", "string"),
    )


def test_media_decoders_reject_garbage():
    from readabilitysax_spark.operators import multimodal as mm

    assert mm.decode_png(b"not a png") is None
    assert mm.decode_png(b"\x89PNG\r\n\x1a\n" + b"\x00" * 30) is None
    assert mm.decode_wav(b"RIFFxxxxWAVE") is None
    assert mm.parse_mp4_ftyp(b"tiny") is None
    assert mm.parse_mp4_ftyp(b"\x00\x00\x00\x10moov" + b"\x00" * 8) is None
    # corrupted IHDR CRC must be rejected
    png = bytearray(mm.synth_png(7))
    png[30] ^= 0xFF
    assert mm.decode_png(bytes(png)) is None
    assert mm.decode_png(mm._encode_gray_png(0, 1, [b""])) is None
    # pixel decode: a 1x1 header over a corrupt IDAT, a short scanline,
    # and scanline filter type 1
    head = mm.synth_png(0)[:33]
    for idat in (b"not zlib", zlib.compress(b"\x00"), zlib.compress(b"\x01\x00")):
        chunk = len(idat).to_bytes(4, "big") + b"IDAT" + idat + b"\x00" * 4
        assert mm.decode_png_pixels(head + chunk) is None
    ok, feats = mm.decode_media("image/png", mm.synth_png(12))
    assert ok and feats["width"] == 13 and feats["height"] == 13


def test_exact_dedup_detects_planted_dup(spark):
    df = spark.createDataFrame(
        [(1, "same text here"), (2, "same text here"), (3, "different")],
        "doc_id long, text string")
    from readabilitysax_spark.operators.dedup import exact_duplicates
    rows = {r.doc_id: r for r in exact_duplicates(df).collect()}
    assert rows[1].is_dup is False and rows[2].is_dup is True
    assert rows[2].keeper_id == 1 and rows[3].group_size == 1


def test_minhash_near_dup_sensitivity(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely unrelated words about spark shuffles and parquet files here"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string")
    from readabilitysax_spark.operators.dedup import ngram_jaccard_pairs
    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in ngram_jaccard_pairs(df).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.5
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ivf_topk_recall(spark, monkeypatch):
    """IVF with n_probe=4 of 8 lists must recover most of the exact
    top-10 (near-random embeddings: recall won't be 1.0, but the
    plumbing must return true cosines and reasonable recall)."""
    import duckdb

    from readabilitysax_spark.operators import similarity
    from readabilitysax_spark.operators.similarity import brute_force_topk, ivf_topk

    monkeypatch.setattr(similarity, "TOP_K", 10)
    monkeypatch.setattr(similarity, "IVF_N_LISTS", 8)
    monkeypatch.setattr(similarity, "IVF_N_PROBE", 4)
    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    qvec = [float(v) for v in emb.where("vec_id = 0").head().embedding]
    rest = emb.where("vec_id <> 0")
    exact = {r.vec_id for r in brute_force_topk(rest, qvec).collect()}
    approx = ivf_topk(rest, qvec).collect()
    got = {r.vec_id for r in approx}
    assert len(got & exact) >= 4  # probing half the lists
    # cosines must be true values
    e = {r[0]: r[1] for r in duckdb.sql(
        f"select vec_id, embedding from '{SF_TINY}/embeddings.parquet'").fetchall()}
    import math
    for r in approx[:3]:
        v = e[r.vec_id]
        cos = (sum(float(a) * float(b) for a, b in zip(v, qvec))
               / (math.sqrt(sum(float(a)**2 for a in v))
                  * math.sqrt(sum(b * b for b in qvec))))
        assert abs(cos - r.cosine) < 1e-5


def _same_text_docs(spark, n: int):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit(
            "the same boilerplate nav text repeated on every single page"
        ).alias("text"),
    )


def test_lsh_bucket_cap_bounds_pair_join(spark):
    """A degenerate cluster (1k identical docs → one mega-bucket per
    band) must not go quadratic: with a cap the pair join skips the
    oversize buckets, and the audit query reports exactly what was
    skipped (no-silent-caps)."""
    from pyspark.sql import functions as F

    from readabilitysax_spark.operators.dedup import (
        ngram_jaccard_pairs,
        oversize_lsh_buckets,
    )

    docs = _same_text_docs(spark, 1000)
    capped = ngram_jaccard_pairs(docs, max_bucket_size=50)
    assert capped.count() == 0  # all buckets oversize → no pairs, no blowup
    audit = oversize_lsh_buckets(docs, max_bucket_size=50).collect()
    assert audit and all(r["count"] == 1000 for r in audit)
    # uncapped on a small slice still finds the dups (cap is the only gate)
    some = ngram_jaccard_pairs(docs.limit(20), max_bucket_size=None).count()
    assert some == 20 * 19 / 2
    # shingle-less short docs (NULL signatures) must not surface as
    # phantom oversize buckets — the audit applies the pairs function's
    # exact NULL filter
    shorties = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("tiny doc").alias("text")
    )
    assert oversize_lsh_buckets(shorties, max_bucket_size=10).count() == 0


def test_simhash_bucket_cap_bounds_pair_join(spark):
    """Same cap on the simhash band join: identical fingerprints fill
    one bucket per band."""
    from readabilitysax_spark.operators.dedup import simhash_near_dup_pairs

    docs = _same_text_docs(spark, 200)
    assert simhash_near_dup_pairs(docs, max_bucket_size=50).count() == 0
    uncapped = simhash_near_dup_pairs(docs.limit(20), max_bucket_size=None)
    assert uncapped.count() == 20 * 19 / 2


def test_simhash_pairs_recall_contract_by_brute_force(spark):
    """Seeded families of edited documents, every pair checked in Python
    against the fingerprints: all pairs within Hamming distance 3 come
    back (pigeonhole over 4 bands), every returned pair is within 8 and
    shares a 16-bit band, and a pair within 4..8 that shares no band
    exists in the data and is not returned."""
    import random

    from readabilitysax_spark.operators.dedup import (
        SIMHASH_BANDS,
        SIMHASH_BITS,
        SIMHASH_MAX_HAMMING,
        simhash_multi,
        simhash_near_dup_pairs,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(300)]
    rows = []
    for family in range(40):
        base = [rng.choice(vocab) for _ in range(40)]
        rows.append((len(rows), " ".join(base)))
        for edits in range(1, 7):
            words = list(base)
            for pos in rng.sample(range(len(words)), edits):
                words[pos] = rng.choice(vocab)
            rows.append((len(rows), " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fp = {r.doc_id: r.simhash64
          for r in simhash_multi(docs, (SIMHASH_BITS,)).collect()}
    width = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << width) - 1

    def distance(a, b):
        return bin((fp[a] ^ fp[b]) & ((1 << SIMHASH_BITS) - 1)).count("1")

    def shares_band(a, b):
        return any((fp[a] >> (i * width)) & mask == (fp[b] >> (i * width)) & mask
                   for i in range(SIMHASH_BANDS))

    ids = sorted(fp)
    pairs = [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
    out = {(r.doc_a, r.doc_b): r.hamming
           for r in simhash_near_dup_pairs(docs).collect()}
    close = {p for p in pairs if distance(*p) < SIMHASH_BANDS}
    missed = {p for p in pairs if SIMHASH_BANDS <= distance(*p) <= SIMHASH_MAX_HAMMING
              and not shares_band(*p)}
    assert close and close <= out.keys()
    assert all(h == distance(*p) <= SIMHASH_MAX_HAMMING and shares_band(*p)
               for p, h in out.items())
    assert missed and not missed & out.keys()
    assert out.keys() == {p for p in pairs if distance(*p) <= SIMHASH_MAX_HAMMING
                          and shares_band(*p)}


def test_lsh_bucket_cap_keeps_pairs_below_cap(spark):
    """The cap drops only the wide buckets: boilerplate docs above the
    cap vanish from the pairs and appear in the audit, while planted
    near-duplicate pairs in narrow buckets come through untouched."""
    from readabilitysax_spark.operators.dedup import (
        minhash_signatures,
        ngram_jaccard_pairs,
        oversize_lsh_buckets,
    )

    planted = {
        (1000, 1001): "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima",
        (1002, 1003): "mango nectar olive papaya quince raisin satsuma tangelo ugli vanilla wolfberry yuzu",
        (1004, 1005): "anvil bolt chisel drill easel file gauge hammer iron jack knife ladder",
    }
    rows = []
    for (a, b), text in planted.items():
        rows += [(a, text), (b, text.rsplit(" ", 1)[0] + " zebra")]
    near = spark.createDataFrame(rows, "doc_id long, text string")
    boiler = _same_text_docs(spark, 60)
    docs = boiler.unionByName(near)

    pairs = ngram_jaccard_pairs(docs, max_bucket_size=10).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs} == set(planted)
    sig = minhash_signatures(boiler.limit(1)).head()
    boiler_buckets = {f"{k}|{sig[f'minhash_{k}']}" for k in range(8)}
    audit = oversize_lsh_buckets(docs, max_bucket_size=10).collect()
    assert {r.bucket for r in audit} == boiler_buckets
    assert all(r["count"] == 60 for r in audit)


def test_ivf_prebuilt_full_probe_equals_brute_force(spark, monkeypatch):
    """Probing every inverted list is an exact search: ivf_search over
    the prebuilt index with n_probe = n_lists must equal brute-force
    top-k row-for-row (the recall knob degrades coverage, never
    arithmetic)."""
    from readabilitysax_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = [float(v) for v in
            emb.where("vec_id = 0").select("embedding").head()[0]]
    corpus_df = emb.where("vec_id <> 0")
    monkeypatch.setattr(similarity, "TOP_K", 10)
    monkeypatch.setattr(similarity, "IVF_N_LISTS", 4)
    monkeypatch.setattr(similarity, "IVF_N_ITER", 2)
    centroids, assigned = similarity.build_ivf_index(corpus_df)
    exact = similarity.brute_force_topk(corpus_df, qvec).collect()
    monkeypatch.setattr(similarity, "IVF_N_PROBE", 4)
    full_probe = similarity.ivf_search(assigned, centroids, qvec).collect()
    assert [tuple(r) for r in full_probe] == [tuple(r) for r in exact]
    # partial probe returns k rows whose cosines are a subset of plausible
    # candidates and are sorted descending
    monkeypatch.setattr(similarity, "IVF_N_PROBE", 2)
    part = similarity.ivf_search(assigned, centroids, qvec).collect()
    assert len(part) == 10
    assert [r.cosine for r in part] == sorted((r.cosine for r in part), reverse=True)


def test_ivf_assign_keeps_caller_vnorm_column(spark):
    """ivf_assign stages the row norm under a name the caller's frame
    does not use: a caller column named _vnorm survives unchanged and
    the assignment is the same as without it."""
    from readabilitysax_spark.operators.similarity import ivf_assign

    rows = [(0, [1.0, 0.0]), (1, [0.0, 2.0]), (2, [3.0, 1.0]), (3, [-1.0, 4.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    centroids = [[1.0, 0.0], [0.0, 1.0]]
    plain = {r.vec_id: r.list_id for r in ivf_assign(emb, centroids).collect()}
    clash = emb.withColumn("_vnorm", F.lit("caller"))
    out = ivf_assign(clash, centroids)
    assert out.columns == ["vec_id", "embedding", "_vnorm", "list_id"]
    got = out.collect()
    assert {r.vec_id: r.list_id for r in got} == plain == {0: 0, 1: 1, 2: 0, 3: 1}
    assert {r._vnorm for r in got} == {"caller"}


def test_embedding_near_dup_bucket_cap(spark, monkeypatch):
    """Same cap semantics on the embedding-space near-dup join."""
    from pyspark.sql import functions as F

    from readabilitysax_spark.operators import similarity
    from readabilitysax_spark.operators.similarity import (
        embedding_near_dup_pairs,
        oversize_buckets,
    )

    monkeypatch.setattr(similarity, "NEAR_DUP_MIN_COSINE", 0.9)

    vec = [1.0] + [0.0] * 7
    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(v) for v in vec]).alias("embedding"),
    )
    capped = embedding_near_dup_pairs(emb, max_bucket_size=50)
    assert capped.count() == 0
    audit = oversize_buckets(emb, max_bucket_size=50).collect()
    assert audit and audit[0]["count"] == 200
    uncapped = embedding_near_dup_pairs(emb.limit(10), max_bucket_size=None)
    assert uncapped.count() == 10 * 9 / 2
    # the width is read from the first row; an empty table has none
    assert embedding_near_dup_pairs(emb.limit(0)).count() == 0


def test_near_dup_clusters_planted(spark, monkeypatch):
    """A planted 3-doc near-dup cluster collapses to one canonical id."""
    from readabilitysax_spark.operators import dedup
    from readabilitysax_spark.operators.dedup import near_dup_clusters

    monkeypatch.setattr(dedup, "CLUSTER_MIN_JACCARD", 0.3)

    base = "the quick brown fox jumps over the lazy dog again and again today ok"
    rows = [
        (10, base),
        (11, base.replace("today", "tomorrow")),
        (12, base.replace("quick", "slow")),
        (20, "completely different words about spark shuffles and parquet files"),
        (21, "yet another unrelated document mentioning benchmarks and scaling"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in near_dup_clusters(df).collect()}
    assert out[10].cluster_id == out[11].cluster_id == out[12].cluster_id == 10
    assert out[10].is_canonical and not out[11].is_canonical
    assert out[10].cluster_size == 3
    assert out[20].cluster_id == 20 and out[20].cluster_size == 1


def test_pack_sequences_matches_naive_global_window(spark):
    """The two-pass prefix sum is byte-identical to a single global
    window regardless of input partitioning."""
    from pyspark.sql import Window

    from readabilitysax_spark.operators.corpus import pack_sequences, token_count

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").repartition(13)
    two_pass = {r.doc_id: r for r in pack_sequences(docs).collect()}

    naive = (
        docs.select("doc_id", token_count().cast("bigint").alias("n_tokens"))
        .withColumn(
            "start_offset",
            F.sum("n_tokens").over(Window.orderBy("doc_id")) - F.col("n_tokens"),
        )
        .collect()
    )
    assert len(naive) == len(two_pass)
    for r in naive:
        assert two_pass[r.doc_id].start_offset == r.start_offset, r.doc_id
        assert two_pass[r.doc_id].n_tokens == r.n_tokens


def test_pack_sequences_above_range_sampling_threshold(spark, monkeypatch):
    """repartitionByRange resamples its range bounds per job, so the
    totals pass and the window pass can disagree on partition contents
    once the input exceeds the exhaustive-sampling threshold
    (~sampleSizePerPartition × the session's shuffle partitions ≈ 400
    rows on the 4-partition test session). The staged table is
    checkpointed to pin ONE layout; this 50k-row check is the regression
    guard for the silent-offset-corruption failure mode."""
    from readabilitysax_spark.operators import corpus
    from readabilitysax_spark.operators.corpus import pack_sequences

    monkeypatch.setattr(corpus, "PACK_BUDGET", 64)
    n = 50_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.array_repeat(F.lit("w"), (F.col("id") % 7 + 1).cast("int"))
        ).alias("text"),
    )
    out = pack_sequences(docs).orderBy("doc_id").collect()
    assert len(out) == n
    expect = 0
    for r in out:
        assert r.start_offset == expect, f"doc {r.doc_id}"
        expect += r.n_tokens


def test_stratified_sample_nested_and_deterministic(spark, monkeypatch):
    from readabilitysax_spark.operators import corpus
    from readabilitysax_spark.operators.corpus import stratified_sample

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")

    def sample(df, rate):
        monkeypatch.setattr(corpus, "MIX_RATES", {})
        monkeypatch.setattr(corpus, "MIX_DEFAULT_RATE", rate)
        return {r.doc_id for r in stratified_sample(df).collect()}

    half = sample(docs, 0.5)
    quarter = sample(docs, 0.25)
    again = sample(docs.repartition(7), 0.5)
    assert quarter < half          # nested samples
    assert again == half           # partitioning-independent
    assert 0.4 < len(half) / docs.count() < 0.6


def test_token_set_prf_math(spark):
    from readabilitysax_spark.operators.textstats import token_set_prf

    df = spark.createDataFrame(
        [(1, "a b c d", "a b x y"),   # P=0.5 R=0.5 F1=0.5
         (2, "a a b", "a b"),         # set-based: P=R=F1=1.0
         (3, "", "a"), (4, "a", ""),  # empty sides -> 0.0
         (5, "", ""),                 # empty vs empty -> 0.0 (not 1.0
                                      # via the [""] split artifact)
         (6, "  a  ", "a")],          # padding must not inject "" tokens
        "url long, text string, gold_text string")
    rows = {r.url: r for r in token_set_prf(df).collect()}
    assert rows[1].precision == 0.5 and rows[1].recall == 0.5 and rows[1].f1 == 0.5
    assert rows[2].f1 == 1.0
    assert rows[3].f1 == 0.0 and rows[4].f1 == 0.0
    assert rows[5].precision == 0.0 and rows[5].recall == 0.0 and rows[5].f1 == 0.0
    assert rows[6].precision == 1.0 and rows[6].recall == 1.0 and rows[6].f1 == 1.0


def test_repetition_stats_flags_boilerplate(spark):
    from readabilitysax_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [(1, "buy now buy now buy now buy now"),
         (2, "a genuinely varied sentence with distinct words throughout"),
         (3, "one")],  # no bigrams
        "doc_id long, text string")
    rows = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert rows[1].top_bigram_frac > 0.4          # "buy now"/"now buy" dominate
    assert rows[1].distinct_word_frac == 0.25
    assert rows[2].top_bigram_frac < 0.2 and rows[2].distinct_word_frac == 1.0
    assert rows[3].n_bigrams == 0 and rows[3].top_bigram_frac == 0.0


def test_short_doc_shingles_no_crash(spark):
    """Docs shorter than the shingle width must yield empty shingle
    sets, not a slice(start=0) task crash (sequence(1,0) is DESCENDING
    in Spark) — one such doc at 10^12 rows would kill its whole task."""
    from readabilitysax_spark.operators.dedup import (
        minhash_signatures,
        ngram_jaccard_pairs,
    )
    df = spark.createDataFrame(
        [(1, "one"), (2, "two words"), (3, "three whole words"),
         (4, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    sigs = {r.doc_id: r for r in minhash_signatures(df, num_hashes=2).collect()}
    assert sigs[1].minhash_0 is None      # no shingles → no signature
    assert sigs[3].minhash_0 is not None  # exactly one 3-gram
    assert ngram_jaccard_pairs(df).count() == 0  # no shared buckets here


def test_zero_vector_cosine_no_crash(spark):
    from pyspark.sql import functions as F

    from readabilitysax_spark.operators.similarity import brute_force_topk

    emb = spark.createDataFrame(
        [(1, [0.0] * 4), (2, [1.0, 0.0, 0.0, 0.0]), (3, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>")
    rows = {r.vec_id: r.cosine for r in
            brute_force_topk(emb, [1.0, 0.0, 0.0, 0.0]).collect()}
    assert rows[1] == 0.0 and rows[2] == 1.0 and rows[3] == 0.0


def test_probe_buckets_are_the_radius_one_hamming_ball():
    """Spark-free: the multi-probe set is the query bucket plus its
    LSH_N_PLANES one-bit neighbours, ascending."""
    from readabilitysax_spark.operators.similarity import LSH_N_PLANES, probe_buckets

    assert LSH_N_PLANES == 4
    for qbucket in range(16):
        expected = sorted([qbucket] + [qbucket ^ (1 << i) for i in range(LSH_N_PLANES)])
        assert probe_buckets(qbucket) == expected


def test_all_doc_operators_survive_hostile_docs(spark, monkeypatch):
    """Every documents-table operator must be total over hostile rows:
    empty text, whitespace, single word/char, unicode-only, numerals.
    (One crashing row at 10^12 docs kills its task; found the
    shingle/divide-by-zero class of bugs — this pins the sweep.)"""
    from readabilitysax_spark.operators import (
        corpus,
        curation,
        dedup,
        multimodal,
        textstats,
    )

    rows = [
        (0, "", "en", "src0", 0),
        (1, " ", "en", "src0", 1),
        (2, "one", "de", "src1", 3),
        (3, "two words", "fr", "src1", 9),
        (4, "漢字のみの文書です", "zh", "src2", 9),
        (5, "1234 5678 9999", "es", "src2", 14),
        (6, "x" * 5000, "en", "src3", 5000),
        (7, "the the the the the the", "en", "src3", 23),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    monkeypatch.setattr(corpus, "MIX_RATES", {"en": 0.5})
    monkeypatch.setattr(corpus, "PACK_BUDGET", 16)
    monkeypatch.setattr(corpus, "VOCAB_TOP_K", 5)
    ops = [
        lambda: dedup.exact_duplicates(df),
        lambda: dedup.minhash_signatures(df),
        lambda: dedup.minhash_lsh_buckets(df),
        lambda: dedup.ngram_jaccard_pairs(df),
        lambda: dedup.simhash_multi(df, widths=(16, 64)),
        lambda: dedup.simhash_near_dup_pairs(df),
        lambda: dedup.near_dup_clusters(df),
        lambda: textstats.language_id(df),
        lambda: textstats.quality_stats(df),
        lambda: textstats.fingerprints(df),
        lambda: textstats.corpus_profile(df),
        lambda: textstats.repetition_stats(df),
        lambda: corpus.stratified_sample(df),
        lambda: corpus.pack_sequences(df),
        lambda: corpus.domain_stats(
            df.selectExpr("concat('http://', source, '.example/d/', doc_id) AS url",
                          "text", "lang")),
        lambda: multimodal.media_audit(df),
        lambda: curation.redact_pii(df),
        lambda: curation.decontaminate(df, df.limit(2)),
        lambda: dedup.remove_duplicate_spans(df),
        lambda: dedup.incremental_dedup(
            df.where(F.col("doc_id") % 2 == 1),
            df.where(F.col("doc_id") % 2 == 0)),
        lambda: textstats.gopher_quality_flags(df),
        lambda: textstats.unigram_cross_entropy(df),
        lambda: textstats.quality_classifier(df),
        lambda: corpus.vocab_stats(df),
        lambda: corpus.cap_per_domain(df, n=2),
        lambda: corpus.sample_exact_k(df, k=2),
        lambda: textstats.normalize_text(df),
        lambda: curation.filter_blocklist(
            df.selectExpr("concat('http://', source, '.example/d/', doc_id) AS url"),
            df.sparkSession.createDataFrame([("src1.example",)], "domain string")),
    ]
    for op in ops:
        assert op().count() >= 0  # must not raise


def test_empty_documents_table(spark):
    from readabilitysax_spark.operators import dedup, textstats

    from readabilitysax_spark.operators import corpus, curation

    df = spark.createDataFrame([], "doc_id long, text string, lang string")
    assert dedup.exact_duplicates(df).count() == 0
    assert dedup.ngram_jaccard_pairs(df).count() == 0
    assert textstats.repetition_stats(df).count() == 0
    assert dedup.near_dup_clusters(df).count() == 0
    assert corpus.pack_sequences(df).count() == 0  # empty offsets path
    assert curation.redact_pii(df).count() == 0
    assert curation.decontaminate(df, df).count() == 0
    assert dedup.remove_duplicate_spans(df).count() == 0
    assert dedup.incremental_dedup(df, df).count() == 0
    assert textstats.gopher_quality_flags(df).count() == 0
    assert textstats.unigram_cross_entropy(df).count() == 0
    assert textstats.quality_classifier(df).count() == 0
    assert textstats.normalize_text(df).count() == 0
    assert corpus.sample_exact_k(df, k=3).count() == 0
    assert corpus.vocab_stats(df).count() == 0
    assert corpus.cap_per_domain(
        df.withColumn("source", df.lang).withColumn(
            "n_chars", F.length("text")), n=10).count() == 0


def test_url_canonicalization_rules(spark):
    from readabilitysax_spark.operators.corpus import (
        canonicalize_url,
        dedup_by_canonical_url,
    )
    df = spark.createDataFrame([
        ("http://a.example/x/?b=2&a=1#frag",),
        ("http://a.example/x?a=1&utm_source=feed&b=2",),
        ("http://A.EXAMPLE:80/x?a=1&b=2",),
        ("https://b.example/",),
        ("https://b.example",),
        ("https://c.example:443/p?fbclid=zzz",),
        ("http://d.example:443/x",),   # NON-default port: must survive
        ("https://d.example:80/x",),   # NON-default port: must survive
        ("http://d.example:8080/x",),
    ], "url string")
    canon = {r.url: r.c for r in df.select("url", canonicalize_url().alias("c")).collect()}
    assert canon["http://a.example/x/?b=2&a=1#frag"] == "http://a.example/x?a=1&b=2"
    assert canon["http://a.example/x?a=1&utm_source=feed&b=2"] == "http://a.example/x?a=1&b=2"
    assert canon["http://A.EXAMPLE:80/x?a=1&b=2"] == "http://a.example/x?a=1&b=2"
    assert canon["https://b.example/"] == canon["https://b.example"] == "https://b.example"
    assert canon["https://c.example:443/p?fbclid=zzz"] == "https://c.example/p"
    # default-port stripping is scheme-aware: these are distinct origins
    assert canon["http://d.example:443/x"] == "http://d.example:443/x"
    assert canon["https://d.example:80/x"] == "https://d.example:80/x"
    assert canon["http://d.example:8080/x"] == "http://d.example:8080/x"
    groups = {r.canonical_url: r for r in dedup_by_canonical_url(df).collect()}
    assert groups["http://a.example/x?a=1&b=2"].n_variants == 3
    assert groups["https://b.example"].n_variants == 2


def test_winnowing_guarantee_and_edges(spark):
    """The winnowing guarantee: docs sharing a substring of length >=
    k+window-1 share at least one selected fingerprint; short docs
    degrade gracefully."""
    from pyspark.sql import functions as F

    from readabilitysax_spark.operators import textstats
    from readabilitysax_spark.operators.textstats import winnowing_fingerprints

    shared = "a long shared passage of text that is identical in both documents"
    df = spark.createDataFrame(
        [(1, "prefix one here. " + shared + " suffix alpha"),
         (2, "different opening text! " + shared + " other ending"),
         (3, "entirely unrelated content with nothing in common at all"),
         (4, "tiny"),   # < k chars → no grams
         (5, "exactly9!"),  # 2 grams (len 9, k=8) < window → global min
         ],
        "doc_id long, text string")
    k, w = 8, 4
    assert (textstats.WINNOW_K, textstats.WINNOW_WINDOW) == (k, w)

    # raw selected sets via the same expressions (re-derive to compare)
    text = F.col("text")
    gh = F.when(
        F.length(text) - (k - 1) >= 1,
        F.transform(F.sequence(F.lit(1), F.length(text) - (k - 1)),
                    lambda i: F.md5(text.substr(i, F.lit(k)))),
    ).otherwise(F.array().cast("array<string>"))
    sel = spark.createDataFrame([], "x int")  # placeholder not used
    rows = {r.doc_id: r for r in winnowing_fingerprints(df).collect()}

    assert rows[4].n_grams == 0 and rows[4].n_fingerprints == 0
    assert rows[4].fp_digest is None
    assert rows[5].n_grams == 2 and rows[5].n_fingerprints == 1

    # guarantee: recompute full selections and intersect
    full = df.select(
        "doc_id",
        F.array_distinct(
            F.when(
                F.size(gh) - (w - 1) >= 1,
                F.transform(F.sequence(F.lit(1), F.size(gh) - (w - 1)),
                            lambda i: F.array_min(F.slice(gh, i, w))),
            ).when(F.size(gh) >= 1, F.array(F.array_min(gh)))
            .otherwise(F.array().cast("array<string>"))
        ).alias("sel"),
    ).collect()
    sels = {r.doc_id: set(r.sel) for r in full}
    assert sels[1] & sels[2]            # shared passage → shared fingerprint
    assert not (sels[1] & sels[3])      # unrelated docs don't collide


def test_media_resize_real_pixels():
    """Resize is a REAL pixel operation: the resized payload decodes,
    dimensions follow nearest-neighbor law, garbage is rejected."""
    from readabilitysax_spark.operators import multimodal as mm

    # pure-python roundtrip first
    p = mm.synth_png(100)           # 37 x 5
    r = mm.resize_png(p, 8)
    meta = mm.decode_png(r)
    assert (meta["width"], meta["height"]) == (8, 1)
    px = mm.decode_png_pixels(r)
    assert px is not None and len(px[2]) == 1 and len(px[2][0]) == 8
    assert mm.resize_png(b"garbage", 8) is None

    for d, text in _media_docs():
        media_type, payload = mm.synth_asset(d, text)
        ok, nw, nh, n_bytes = mm.resize_asset(media_type, payload, max_side=16)
        if media_type != "image/png":
            assert (ok, nw, nh, n_bytes) == (None, None, None, None)
            continue
        assert ok and max(nw, nh) <= 16
        assert n_bytes == 68 + nh * (1 + nw)
        assert (nw, nh) == mm.decode_png_pixels(mm.resize_png(payload, 16))[:2]
    assert mm.resize_asset("image/png", b"garbage", 16) == (False, None, None, None)


def test_media_frames_stage():
    from readabilitysax_spark.operators import multimodal as mm

    for d, text in _media_docs():
        media_type, payload = mm.synth_asset(d, text)
        ok, n, frame_bytes = mm.sample_asset_frames(media_type, payload, every_n=50)
        if media_type == "audio/wav":
            assert ok and n == -(-(400 + d % 100) // 50) and frame_bytes == 2 * n
        elif media_type == "image/png":
            assert ok and n == 1 and frame_bytes == len(payload)
        else:
            assert (ok, n, frame_bytes) == (False, 0, 0)  # codec stub
    assert mm.sample_asset_frames("audio/wav", b"RIFF", 50) == (False, 0, 0)


def test_remove_duplicate_spans_planted(spark):
    """First occurrence (lowest doc_id, pos) of each span wins
    corpus-wide; survivors reassemble in original order; a fully
    despanned doc keeps its row with clean_text ''."""
    from readabilitysax_spark.operators import dedup

    rows = [
        (1, "a b c d e f"),          # spans: "a b c", "d e f"
        (2, "a b c x y z"),          # loses "a b c" to doc 1
        (3, "d e f a b c"),          # loses both
        (4, "p q r"),                # unique
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.remove_duplicate_spans(df).collect()}
    assert out[1]["clean_text"] == "a b c d e f"
    assert (out[1]["n_spans"], out[1]["n_kept"], out[1]["n_removed"]) == (2, 2, 0)
    assert out[2]["clean_text"] == "x y z"
    assert out[2]["n_removed"] == 1
    assert out[3]["clean_text"] == ""
    assert (out[3]["n_kept"], out[3]["n_removed"]) == (0, 2)
    assert out[4]["clean_text"] == "p q r"


def test_remove_duplicate_spans_within_doc_order(spark):
    """A span repeated INSIDE one doc keeps only its first position,
    and reassembly preserves the positional order of survivors."""
    from readabilitysax_spark.operators import dedup

    df = spark.createDataFrame(
        [(7, "a b c m m m a b c z z z")], "doc_id long, text string")
    row = dedup.remove_duplicate_spans(df).head()
    assert row["clean_text"] == "a b c m m m z z z"
    assert (row["n_spans"], row["n_kept"], row["n_removed"]) == (4, 3, 1)


def test_incremental_dedup_flags(spark):
    """Exact copy of an old doc → exact_dup (and near via identical
    bands); shingle-overlapping variant → near only; novel doc →
    neither. The old snapshot is never compared against itself."""
    from readabilitysax_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    old = spark.createDataFrame(
        [(0, base), (2, "completely different old content here today")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [
            (1, base),                                     # exact dup of 0
            (3, base + " tail tail tail tail"),            # near dup of 0
            (5, "utterly novel text sharing no shingles whatsoever"),
        ],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.incremental_dedup(new, old).collect()}
    assert out[1]["exact_dup"] and out[1]["near_dup"]
    assert not out[3]["exact_dup"] and out[3]["near_dup"]
    assert not out[5]["exact_dup"] and not out[5]["near_dup"]
    assert out[5]["n_near_hits"] == 0


def test_gopher_flags_per_rule(spark):
    from readabilitysax_spark.operators import textstats

    rows = [
        (0, " ".join(["the", "and"] + ["word"] * 60)),  # passes all
        (1, "too short the and"),                        # fails n_words
        (2, " ".join(["1234"] * 80 + ["the", "and"])),   # fails alpha
        (3, " ".join(["wordy"] * 80)),                   # fails stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           textstats.gopher_quality_flags(df).collect()}
    assert out[0]["keep"]
    assert not out[1]["ok_n_words"] and not out[1]["keep"]
    assert not out[2]["ok_alpha"] and not out[2]["keep"]
    assert not out[3]["ok_stop"] and not out[3]["keep"]
    # every failure above isolates ONE rule; the others stay true
    assert out[1]["ok_alpha"] and out[1]["ok_stop"]
    assert out[2]["ok_n_words"] and out[2]["ok_stop"]
    assert out[3]["ok_n_words"] and out[3]["ok_alpha"]


def test_vocab_stats_counts_and_rank(spark, monkeypatch):
    from readabilitysax_spark.operators import corpus

    monkeypatch.setattr(corpus, "VOCAB_TOP_K", 2)
    df = spark.createDataFrame(
        [(0, "b a a"), (1, "a b c")], "doc_id long, text string")
    out = corpus.vocab_stats(df).collect()
    assert [(r["rank"], r["word"], r["n_occurrences"], r["n_docs"])
            for r in out] == [(1, "a", 3, 2), (2, "b", 2, 2)]


def test_embedding_cluster_stats_partition_the_corpus(spark, monkeypatch):
    """Cluster occupancies must partition the assigned corpus: sizes
    sum to the row count and every list_id is within range."""
    from readabilitysax_spark.operators import similarity
    from .conftest import SF_TINY

    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet").where(
        F.col("vec_id") != 0)
    monkeypatch.setattr(similarity, "IVF_N_LISTS", 4)
    monkeypatch.setattr(similarity, "IVF_N_ITER", 1)
    _, assigned = similarity.build_ivf_index(emb)
    stats = similarity.embedding_cluster_stats(assigned).collect()
    assert sum(r["n_vecs"] for r in stats) == emb.count()
    assert all(0 <= r["list_id"] < 4 for r in stats)
    assert all(r["min_vec_id"] <= r["max_vec_id"] for r in stats)


def test_unigram_cross_entropy_orders_rarity(spark):
    """A doc of corpus-common words must score LOWER (more probable)
    than a doc of corpus-rare words, and a uniform corpus gives every
    doc the same entropy."""
    from readabilitysax_spark.operators import textstats

    rows = [(i, "common common common common") for i in range(8)]
    rows += [(8, "common common common common"), (9, "rare words here only")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["avg_neg_logp"]
           for r in textstats.unigram_cross_entropy(df).collect()}
    assert out[9] > out[0]
    assert all(out[i] == out[0] for i in range(1, 9))


def test_cap_per_domain_partitioning_invariant(spark):
    """The capped survivor set must be identical on every physical
    partitioning of the input (deterministic total order)."""
    from readabilitysax_spark.operators.corpus import cap_per_domain

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    expected = sorted(map(tuple, cap_per_domain(docs, n=3).collect()))
    for parts in (1, 7, 32):
        got = cap_per_domain(docs.repartition(parts), n=3)
        assert sorted(map(tuple, got.collect())) == expected, parts


def test_collect_outlinks_hostile_anchors():
    """Anchor collection must be total over malformed markup and follow
    the reference's resolution semantics (absolute passthrough, empty
    href dropped, implicit close on nested <a>, EOF-unclosed <a>)."""
    from readabilitysax_spark.operators.extract import collect_outlinks

    url = "http://h.example/articles/x"
    html = (
        '<a href="https://other.example/abs">abs</a>'
        '<a>no href</a>'
        '<a href="">empty</a>'
        '<a href="/one">first<a href="/two">second</a>'
        '<a href="rel/path">unclosed at eof'
    )
    links = collect_outlinks(html, url)
    assert links == [
        (0, "https://other.example/abs", "abs"),
        (1, "http://h.example/one", "first"),
        (2, "http://h.example/two", "second"),
        (3, "http://h.example/articles/rel/path", "unclosed at eof"),
    ]
    assert collect_outlinks(b"", url) == []
    assert collect_outlinks(b"\xff\xfe<a href='/x'>t</a>", url)[0][1] == \
        "http://h.example/x"


def test_quality_classifier_orders_quality(spark):
    """Stopword-rich prose must outscore digit soup, and the squash
    keeps every score strictly inside (-1, 1)."""
    from readabilitysax_spark.operators import textstats

    rows = [
        (0, " ".join(["the", "and", "of", "word"] * 30)),  # good prose
        (1, " ".join(["1234", "5678"] * 60)),              # digit soup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           textstats.quality_classifier(df).collect()}
    assert out[0]["score"] > out[1]["score"]
    assert out[0]["keep"] and not out[1]["keep"]
    assert all(-1.0 < r["score"] < 1.0 for r in out.values())


def test_sample_exact_k_counts_and_growth_stability(spark):
    """Exactly min(k, stratum size) rows per stratum, and growing the
    corpus can only EVICT members (a doc sampled in the larger corpus
    is always sampled in the smaller one — rank improves when rows
    are removed, never degrades)."""
    from readabilitysax_spark.operators.corpus import sample_exact_k

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    small = docs.where(F.col("doc_id") < 300)
    k = 10
    by_lang = {
        r["lang"]: r["n"]
        for r in small.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    samp_small = sample_exact_k(small, k=k).collect()
    from collections import Counter
    counts = Counter(r["lang"] for r in samp_small)
    for lang, n in by_lang.items():
        assert counts[lang] == min(k, n), lang
    samp_big = sample_exact_k(docs, k=k).collect()
    small_ids = {r["doc_id"] for r in small.select("doc_id").collect()}
    in_big_and_small = {r["doc_id"] for r in samp_big} & small_ids
    in_small_sample = {r["doc_id"] for r in samp_small}
    assert in_big_and_small <= in_small_sample


def test_normalize_text_rules(spark):
    from readabilitysax_spark.operators.textstats import normalize_text

    df = spark.createDataFrame(
        [(1, "  MiXeD\tCase\x07\x00 with\r\n  runs  "),
         (2, "already clean")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in normalize_text(df).collect()}
    assert out[1]["norm_text"] == "mixed case with runs"
    assert out[1]["changed"]
    assert out[2]["norm_text"] == "already clean"
    assert not out[2]["changed"]


def test_collect_outlinks_attribute_scoping():
    """href scoping mirrors the reference's _currentElement semantics
    (readability-sax.ts:360-373): noContent descendants (span/b/font)
    never become the current element, so their href lands ON the
    anchor (last-wins overwrite); structural descendants (div) own
    their attributes, so their href is NOT the anchor's."""
    from readabilitysax_spark.operators.extract import collect_outlinks

    url = "http://h.example/p"
    # div descendant carrying href: belongs to the div, anchor keeps none
    assert collect_outlinks('<a><div href="/u">t</div></a>', url) == []
    # div descendant must not clobber the anchor's own href either
    assert collect_outlinks(
        '<a href="/mine"><div href="/theirs">t</div>x</a>', url
    ) == [(0, "http://h.example/mine", "tx")]
    # noContent descendant (span): its href applies to the anchor,
    # overwriting (the reference assigns attributes[name] = value)
    assert collect_outlinks(
        '<a href="/first"><span href="/second">t</span></a>', url
    ) == [(0, "http://h.example/second", "t")]
    # duplicate attrs on the <a> itself each fire -> last wins
    assert collect_outlinks('<a href="/x" href="/y">t</a>', url) == [
        (0, "http://h.example/y", "t")
    ]
    # empty value never assigns (reference: `if (!value) return`)
    assert collect_outlinks('<a href="/x" href="">t</a>', url) == [
        (0, "http://h.example/x", "t")
    ]
    # depth restored after the descendant closes: a LATER noContent
    # href still reaches the anchor
    assert collect_outlinks(
        '<a><div>d</div><span href="/late">s</span></a>', url
    ) == [(0, "http://h.example/late", "ds")]


def test_gopher_alpha_counts_uppercase_words(spark):
    """Gopher's alpha rule is 'contains at least one ALPHABETIC char':
    NASA / I / acronyms count; an all-caps doc must not fail ok_alpha."""
    from readabilitysax_spark.operators import textstats

    rows = [
        (0, " ".join(["NASA", "I", "THE"] * 25 + ["the", "and"])),
        (1, " ".join(["1234"] * 77 + ["the", "and"])),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           textstats.gopher_quality_flags(df).collect()}
    assert out[0]["alpha_ratio"] == 1.0 and out[0]["ok_alpha"]
    assert not out[1]["ok_alpha"]


def test_remove_duplicate_spans_empty_text(spark):
    """Empty/whitespace-free-empty docs have n_spans = 0 and never
    contend for the '' span (split('') is [''] without the guard)."""
    from readabilitysax_spark.operators import dedup

    df = spark.createDataFrame(
        [(0, ""), (1, ""), (2, "a b c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in
           dedup.remove_duplicate_spans(df).collect()}
    for i in (0, 1):
        assert out[i]["n_spans"] == 0
        assert out[i]["n_kept"] == 0
        assert out[i]["n_removed"] == 0
        assert out[i]["clean_text"] == ""
    assert out[2]["n_spans"] == 1 and out[2]["n_kept"] == 1


def test_gopher_alpha_is_unicode_aware(spark):
    """\\p{L} alpha rule: Cyrillic/CJK words are alphabetic (Gopher's
    gate must not drop non-Latin languages); digit soup still fails.
    DuckDB RE2 agrees on \\p{L} (checked in the oracle harness)."""
    from readabilitysax_spark.operators import textstats

    ru = " ".join(["привет", "мир", "это"] * 25 + ["the", "and"])
    zh = " ".join(["漢字", "文書"] * 38 + ["the", "and"])
    digits = " ".join(["1234"] * 77 + ["the", "and"])
    df = spark.createDataFrame(
        [(0, ru), (1, zh), (2, digits)], "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           textstats.gopher_quality_flags(df).collect()}
    assert out[0]["alpha_ratio"] == 1.0 and out[0]["ok_alpha"]
    assert out[1]["alpha_ratio"] == 1.0 and out[1]["ok_alpha"]
    assert not out[2]["ok_alpha"]


def _ref_jaccard_pairs(docs, threshold, num_hashes=8, k=3, max_bucket=10_000):
    """Independent pure-Python mirror of the full ngram_jaccard_pairs
    chain (shingle → salted-md5 minhash windows → banded buckets →
    candidate pairs → exact Jaccard on the shingle SETS). Differential
    reference for the Spark implementation — including the 60-bit
    hashed-set verify, whose values must equal raw-set Jaccard."""
    import hashlib

    sets, minhashes = {}, {}
    n_digests = (num_hashes + 3) // 4
    for d, t in docs.items():
        w = t.split(" ")
        sh = [" ".join(w[i:i + k]) for i in range(len(w) - k + 1)] if len(w) >= k else []
        ss = list(dict.fromkeys(sh))
        sets[d] = set(ss)
        if not ss:
            continue
        digests = [
            [hashlib.md5(f"{dg}:{s}".encode()).hexdigest() for s in ss]
            for dg in range(n_digests)
        ]
        minhashes[d] = [
            min(h[8 * (i % 4):8 * (i % 4) + 8] for h in digests[i // 4])
            for i in range(num_hashes)
        ]
    buckets = {}
    for d, mh in minhashes.items():
        for band, h in enumerate(mh):
            buckets.setdefault(f"{band}|{h}", []).append(d)
    cands = set()
    for ds in buckets.values():
        if len(ds) > max_bucket:
            continue
        ds = sorted(ds)
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                cands.add((ds[i], ds[j]))
    out = []
    for a, b in sorted(cands):
        u = len(sets[a] | sets[b])
        jac = len(sets[a] & sets[b]) / u if u else 0.0
        if jac >= threshold:
            out.append((a, b, round(jac, 6)))
    return sorted(out)


def test_ngram_jaccard_matches_python_reference(spark):
    """Differential pin for the whole minhash/banding/verify pipeline:
    a seeded corpus with planted near-dups must produce EXACTLY the
    pairs and Jaccard values of an independent pure-Python replication
    that verifies on RAW shingle sets — proving the Spark side's 60-bit
    hashed-set verify changes no value and the banding is faithful."""
    import random

    from readabilitysax_spark.operators import dedup

    rng = random.Random(20260817)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta",
             "eta", "theta", "iota", "kappa", "mu", "nu"]
    docs = {}
    for d in range(30):
        docs[d] = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 14)))
    base = list(docs.values())
    for d in range(30, 42):  # planted near-dups: copy with 1 edit
        src = base[rng.randrange(len(base))].split(" ")
        if src and src[0]:
            src[rng.randrange(len(src))] = rng.choice(vocab)
        docs[d] = " ".join(src)

    expected = _ref_jaccard_pairs(docs, threshold=0.2)
    df = spark.createDataFrame(
        sorted(docs.items()), "doc_id long, text string"
    )
    got = sorted(
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.2).collect()
    )
    assert got == expected, (got[:5], expected[:5], len(got), len(expected))
