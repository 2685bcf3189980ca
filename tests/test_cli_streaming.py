"""CLI sink parity (bin/cli.ts shape) and Structured Streaming
extraction (incremental ingest with exactly-once file sink)."""

from __future__ import annotations

import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from readabilitysax_spark.sources.pages import read_pages

from .conftest import SF_TINY


def test_cli_text_output(tmp_path):
    f = tmp_path / "page.html"
    f.write_text(
        "<html><head><title>one two three four - x</title></head><body>"
        "<h1>one two three four</h1><div class='content'>"
        + "<p>" + "word, " * 60 + "</p>" * 1 + "</div>"
        "<div class='pagination'><a href='/a/doc-1/page/2'>2</a></div>"
        "</body></html>"
    )
    out = subprocess.run(
        [sys.executable, "-m", "readabilitysax_spark.cli", str(f),
         "text", "--url", "http://x.example/a/doc-1"],
        capture_output=True, text=True, cwd="/root/repo", check=True,
    ).stdout
    assert out.startswith("TITLE: one two three four\n")
    assert "SCORE: " in out and "LENGTH: " in out
    assert "NEXT PAGE: http://x.example/a/doc-1/page/2" in out
    assert "word, word" in out


def test_cli_html_output(tmp_path):
    f = tmp_path / "page.html"
    f.write_text(
        "<div class='content'>" + ("<p>" + "word, " * 30 + "</p>") * 2 + "</div>")
    out = subprocess.run(
        [sys.executable, "-m", "readabilitysax_spark.cli", str(f), "html"],
        capture_output=True, text=True, cwd="/root/repo", check=True,
    ).stdout
    assert "<p>" in out


def test_cli_usage_error():
    r = subprocess.run(
        [sys.executable, "-m", "readabilitysax_spark.cli"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode != 0


def test_passthrough_columns(spark):
    pages = read_pages(spark, SF_TINY)
    arts = extract = None
    from readabilitysax_spark.operators.extract import extract_articles
    arts = extract_articles(pages, passthrough=("lang", "warc_ts"))
    assert "lang" in arts.columns and "warc_ts" in arts.columns
    row = arts.select("url", "lang", "warc_ts").head()
    src = pages.select("url", "lang", "warc_ts").where(
        F.col("url") == row.url).head()
    assert (row.lang, row.warc_ts) == (src.lang, src.warc_ts)


def test_streaming_extraction(spark, tmp_path):
    from readabilitysax_spark.streaming.extract_stream import (
        run_stream_to_parquet,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck_dir = str(tmp_path / "ck")

    pages = read_pages(spark, SF_TINY).limit(60).cache()
    n = pages.count()
    # two "snapshots" arriving over time
    pages.where(F.col("url").substr(-1, 1).isin("0", "1", "2", "3", "4")) \
        .write.parquet(in_dir + "/batch1")
    pages.where(~F.col("url").substr(-1, 1).isin("0", "1", "2", "3", "4")) \
        .write.parquet(in_dir + "/batch2")
    # streaming source reads the directory tree
    import shutil
    merged = str(tmp_path / "merged")
    shutil.os.makedirs(merged)
    for sub in ("batch1", "batch2"):
        for fn in shutil.os.listdir(f"{in_dir}/{sub}"):
            if fn.endswith(".parquet"):
                shutil.copy(f"{in_dir}/{sub}/{fn}", f"{merged}/{sub}_{fn}")

    q = run_stream_to_parquet(spark, merged, out_dir, ck_dir)
    q.awaitTermination(240)
    got = spark.read.parquet(out_dir)
    assert got.count() == n
    assert got.groupBy("url").count().where("count>1").count() == 0

    # restart with no new data: exactly-once, nothing re-emitted
    q2 = run_stream_to_parquet(spark, merged, out_dir, ck_dir)
    q2.awaitTermination(240)
    assert spark.read.parquet(out_dir).count() == n
    pages.unpersist()

