"""Structured Streaming extraction (SURVEY.md §2.4 streaming note).

The reference has no streaming compute (its WritableStream is
transport chunking, lib/writable-stream.ts:35-49); the batch engine is
the core deliverable. This module is the incremental-ingest path a
production crawl pipeline needs: new page files (or Iceberg snapshots /
Kafka topics in production) appear → the same stateless extraction UDF
runs → articles append to the sink with exactly-once file-sink
semantics via checkpointing.

Stateless ``mapInArrow`` is fully streaming-compatible: no watermarks
or state stores are required because extraction is per-row. The
windowed rollup shows event-time aggregation over warc_ts with a
watermark for late crawl records.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..operators.extract import extract_articles
from ..sources.pages import PAGES_ARROW_SCHEMA


def read_pages_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    return (
        spark.readStream.schema(from_arrow_schema(PAGES_ARROW_SCHEMA))
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def extract_articles_stream(pages_stream: DataFrame) -> DataFrame:
    """Same operator, streaming plan — extraction is stateless."""
    return extract_articles(pages_stream, passthrough=("warc_ts", "lang"))


def dedup_pages_stream(pages_stream: DataFrame) -> DataFrame:
    """Ingest-side streaming dedup: a page re-crawled / re-delivered
    (same ``url``) within 24 hours of ``warc_ts`` is dropped exactly
    once.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until
    the event-time watermark passes, so state is bounded by (crawl
    rate × horizon) instead of growing with the corpus — the property
    that makes streaming dedup viable at 10^12 cumulative docs. For
    full-corpus dedup the batch operators (dedup.py) run downstream.
    """
    return pages_stream.withWatermark(
        "warc_ts", "24 hours"
    ).dropDuplicatesWithinWatermark(["url"])


def windowed_lang_rollup(articles_stream: DataFrame) -> DataFrame:
    """Event-time rollup: docs + text volume per lang per 1h window,
    tolerating 2h-late crawl records."""
    return (
        articles_stream.withWatermark("warc_ts", "2 hours")
        .groupBy(F.window("warc_ts", "1 hour"), "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("text_length").alias("total_text_length"),
        )
    )


def run_stream_to_parquet(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
):
    """Start the incremental extraction; returns the StreamingQuery.

    File-sink + checkpoint gives exactly-once output across restarts
    (the streaming analog of plans/pipeline.py's bucket resume).
    """
    stream = extract_articles_stream(
        read_pages_stream(spark, input_dir, max_files_per_trigger)
    )
    return (
        stream.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
