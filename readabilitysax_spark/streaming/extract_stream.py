"""Structured Streaming extraction (SURVEY.md §2.4 streaming note).

The reference has no streaming compute (its WritableStream is
transport chunking, lib/writable-stream.ts:35-49); the batch engine is
the core deliverable. This module is the incremental-ingest path a
production crawl pipeline needs: new page files (or Iceberg snapshots /
Kafka topics in production) appear → the same stateless extraction UDF
runs → articles append to the sink with exactly-once file-sink
semantics via checkpointing.

Stateless ``mapInArrow`` is fully streaming-compatible: no watermarks
or state stores are required because extraction is per-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
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
    stream = extract_articles(
        read_pages_stream(spark, input_dir, max_files_per_trigger),
        passthrough=("warc_ts", "lang"),
    )
    return (
        stream.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
