"""Pages source: real pages tables and the deterministic documents bridge.

``pages`` schema (BASELINE.json input_hint / SURVEY.md §1.3):
    url string, warc_ts timestamp, html binary, text string, lang string

At production scale this is `spark.read.format("iceberg").load(...)`;
in this sandbox it is parquet plus a deterministic synthesis step from
the driver's ``documents`` tables (FIXTURES.md §5). Synthesis runs as a
vectorized Arrow batch transform — no per-row Python UDF — so the same
code path exercises the JVM↔Python transport the extractor uses.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..functions.pagegen import (
    URL_PREFIX,
    URL_SUFFIX,
    WARC_EPOCH,
    synth_page,
    synth_warc_ts,
)

PAGES_ARROW_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("warc_ts", pa.timestamp("us")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)


def synth_batch_pages(batch: pa.RecordBatch) -> tuple[list[str], list[str]]:
    """(urls, htmls) of one documents batch, ``synth_page`` per row —
    the one place a worker turns documents rows into pages."""
    urls: list[str] = []
    htmls: list[str] = []
    for doc_id, text, source in zip(
        batch.column("doc_id").to_pylist(),
        batch.column("text").to_pylist(),
        batch.column("source").to_pylist(),
    ):
        url, html = synth_page(doc_id, text, source)
        urls.append(url)
        htmls.append(html)
    return urls, htmls


def _synth_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        urls, htmls = synth_batch_pages(batch)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(urls, pa.string()),
                pa.array(
                    [synth_warc_ts(d) * 1_000_000
                     for d in batch.column("doc_id").to_pylist()],
                    pa.timestamp("us"),
                ),
                pa.array([h.encode("utf-8") for h in htmls], pa.binary()),
                batch.column("text").cast(pa.string()),
                batch.column("lang").cast(pa.string()),
            ],
            schema=PAGES_ARROW_SCHEMA,
        )


def synthesize_pages(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text, lang, source, ...) → pages (deterministic)."""
    return documents.select("doc_id", "text", "source", "lang").mapInArrow(
        _synth_batches, from_arrow_schema(PAGES_ARROW_SCHEMA)
    )


# split-count probe cache: (applicationId, key, parallelism, layout) → n.
# ``df.rdd.getNumPartitions()`` converts the whole logical plan to an
# RDD on the driver (no job, but tens of ms of py4j + planning) and the
# answer is a pure function of the file layout — every query paid it
# once per source read. Metadata only; never caches data or results.
_SPLIT_COUNT_CACHE: dict[tuple, int] = {}


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) of ``path`` — a local path or any URI the
    session's Hadoop configuration resolves (``file://``, object stores)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _layout_fingerprint(spark: SparkSession, df: DataFrame) -> tuple[int, int]:
    """(file count, newest modification time in ms) of ``df``'s input
    files: a path rewritten with another layout gets a new cache key."""
    files = df.inputFiles()
    if not files:
        return 0, 0
    fs, _ = hadoop_fs(spark, files[0])
    path = spark._jvm.org.apache.hadoop.fs.Path
    newest = max(fs.getFileStatus(path(f)).getModificationTime() for f in files)
    return len(files), newest


def spread_small_scan(
    spark: SparkSession, df: DataFrame, cache_key: str | None = None
) -> DataFrame:
    """Round-robin a scan whose split count is below the core count.

    Parquet splits align to row groups, so a small corpus written as one
    row group arrives as ONE partition no matter what
    ``maxPartitionBytes``/``openCostInBytes`` say — and every downstream
    CPU-bound map stage (md5 shingling, page synthesis, extraction) then
    runs single-core. The repartition is a tiny shuffle at the scales
    where it fires and a structural NO-OP at production scale: a 100 TB
    table scans as thousands of splits, so the branch never triggers and
    no full-corpus shuffle is ever added.

    ``cache_key``: pass a stable source identifier (e.g. the parquet
    path) to memoize the split-count probe per session — sound because
    the count depends only on the file layout and session parallelism,
    and the key carries a fingerprint of the layout (file count and
    newest file mtime), so a rewritten path is probed again.
    """
    parallelism = spark.sparkContext.defaultParallelism
    key = (
        (spark.sparkContext.applicationId, cache_key, parallelism,
         _layout_fingerprint(spark, df))
        if cache_key else None
    )
    n = _SPLIT_COUNT_CACHE.get(key) if key else None
    if n is None:
        n = df.rdd.getNumPartitions()
        if key:
            _SPLIT_COUNT_CACHE[key] = n
    if n < parallelism:
        return df.repartition(parallelism)
    return df


def read_sf_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """``<sf_dir>/<table>.parquet`` (documents, embeddings, events),
    spread across the cores: a one-row-group file would pin every
    CPU-bound stage downstream to one core (see ``spread_small_scan``)."""
    path = f"{sf_dir}/{table}.parquet"
    return spread_small_scan(spark, spark.read.parquet(path), cache_key=path)


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_sf_table(spark, sf_dir, "documents")


def read_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's canonical input: synthesized pages for this sandbox,
    `spark.read.parquet(path)` / iceberg for a real pages table."""
    return synthesize_pages(read_documents(spark, sf_dir))


def read_pages_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pages table WITHOUT the html payload: (url, warc_ts, text,
    lang) — for queries that never read html (domain rollups, URL
    blocklists). On a real pages table this is plain column pruning at
    the parquet/iceberg scan (ReadSchema drops the heavy html column —
    guide §6); in this sandbox the synthesis mapInArrow is opaque to
    Catalyst, so pruning must happen HERE: the metadata columns are
    the same deterministic functions of the documents row that
    ``functions.pagegen.synth_page``/``synth_warc_ts`` compute (url =
    page_url(source, doc_id), warc_ts = 2020-01-01 + doc_id seconds),
    expressed as JVM expressions so no Python pass or html build runs
    at all. Value-equality with ``read_pages`` on the shared columns is
    pinned by tests/test_plans.py::test_read_pages_meta_matches_pages.
    """
    docs = read_documents(spark, sf_dir)
    return docs.select(
        page_url_col().alias("url"),
        F.timestamp_seconds(F.lit(WARC_EPOCH) + F.col("doc_id")).alias(
            "warc_ts"
        ),
        F.col("text"),
        F.col("lang"),
    )


def page_url_col() -> Column:
    """``pagegen.page_url(source, doc_id)`` as a JVM expression over a
    documents row."""
    return F.concat(
        F.lit(URL_PREFIX), F.col("source"),
        F.lit(URL_SUFFIX), F.col("doc_id").cast("string"),
    )


def replicate_documents(documents: DataFrame, copies: int) -> DataFrame:
    """Deterministically scale up a documents table for bench runs:
    doc_id' = doc_id * copies + k keeps ids unique and synthesis pure."""
    if copies <= 1:
        return documents
    k = F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("k")
    return (
        documents.select("doc_id", "text", "source", "lang", k)
        .withColumn("doc_id", F.col("doc_id") * copies + F.col("k"))
        .drop("k")
    )
