"""SparkSession builder tuned for the extraction workload.

``build_session`` is the one way this package builds a session: tests,
benchmarks, the query driver and the spark-submit entry point
(``scripts/run_pipeline.py``) all call it.

Engine settings, applied on every master (100 TB / 1000-executor
target, tested on local[N]):

* AQE on: runtime coalescing + skew-join splitting for the relational
  shell (dedup/metrics aggregations), with a 64k coalescing floor.
* Arrow batches capped at 256 rows and 64 MiB, whichever comes first
  (``maxRecordsPerBatch``, ``maxBytesPerBatch``): html payloads are
  MB-sized on real Common-Crawl data; 10k-row default batches would
  buffer gigabytes in the Python worker. The byte cap is Spark 4.1's
  own default, set here so the bound is stated where it is relied on:
  the extraction emits one output batch per input batch, so these caps
  bound what its worker holds.
* maxPartitionBytes 128m keeps scan partitions executor-memory-safe.
* zstd parquet and dynamic partition overwrite (the resumable pipeline
  rewrites only the buckets it redoes).

Host settings, applied only when the caller names a master. With
``master=None`` they are left to spark-submit (or
``PYSPARK_SUBMIT_ARGS``): the master, driver memory, the UI and console
progress, the shuffle partition count and the Python daemon (Spark's
stock one).

* Shuffle partitions: ``max(defaultParallelism, 8)`` of the session's
  own master unless the caller passes a count.
* Python daemon: Spark's stock ``pyspark.daemon`` compiles the 98
  pyspark/py4j modules it imports from ``pyspark.zip``, which ships no
  bytecode, on every SparkContext (1.1-1.4 s of the worker warm-up on 4
  cores). When the daemon can import this package before any task runs,
  it starts from the package's ``worker_daemon`` instead, which imports
  pyspark and py4j from the installed packages when their source matches
  the zips', using the bytecode already compiled there.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

APP_NAME = "readabilitysax-spark"
_PACKAGE_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _python_daemon_module(master: str) -> str:
    """``spark.python.daemon.module`` for a session on ``master``.

    The package's ``worker_daemon`` when a daemon of this session is sure
    to import it: the master is local (the daemon runs on this host) and
    the package was imported from a directory whose parent a fresh
    ``python -m`` here searches (the working directory, a ``PYTHONPATH``
    entry or site-packages). Otherwise Spark's stock ``pyspark.daemon``:
    a package shipped as a zip (``spark-submit --py-files``) reaches the
    workers only per task, after the daemon has started.
    """
    root = os.path.realpath(os.path.dirname(_PACKAGE_DIR))
    search = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
              *site.getsitepackages()]
    if (master.startswith("local") and os.path.isdir(_PACKAGE_DIR)
            and any(p and os.path.realpath(p) == root for p in search)):
        return "readabilitysax_spark.worker_daemon"
    return "pyspark.daemon"


def build_session(
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """The engine's session on ``master``; ``None`` leaves the master and
    the host settings, ``shuffle_partitions`` included, to spark-submit."""
    # AQE coalescing floor (round 6): byte-based coalescing
    # under-parallelizes CPU-DENSE post-shuffle stages — rows carrying
    # array/set payloads (shingle-set verify joins, cosine pair
    # stages) do 100-1000 CPU ops per byte, so a few-MB stage coalesced
    # to the 1 MB-default floor runs on a handful of cores while the
    # rest idle (measured: ngram_jaccard 2.9 s -> 1.5 s at sf0.1 from
    # this floor alone; the effect exists at ANY cluster size — a 5 MB
    # compute-bound stage on 1000 cores would coalesce to 5 tasks).
    # Coalescing itself stays ON (essential against small-partition
    # floods at 100 TB); only the minimum size is lowered.
    builder = (
        SparkSession.builder.appName(APP_NAME)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    if master is None:
        return builder.getOrCreate()
    spark = (
        builder.master(master)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.daemon.module", _python_daemon_module(master))
        .getOrCreate()
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(
        shuffle_partitions or max(spark.sparkContext.defaultParallelism, 8)))
    return spark


def _warm_batches(batches):
    # runs in the Python worker: importing this module pulls in pyspark
    # + the core extraction stack (the package import also installs
    # zipimport_cache, which spares every later task of this worker
    # re-reads of the zips on its sys.path), and one tiny extract()
    # warms the tokenizer/entity regex caches — the per-worker one-time costs
    # every later Arrow task would otherwise pay inside its own wall
    from readabilitysax_spark.core.api import extract

    extract(b"<div class='content'><p>warm, pool</p></div>",
            url="http://warm.example/")
    yield from batches


def warm_python_workers(spark: SparkSession) -> None:
    """Start the Python daemon and warm its worker pool: one trivial
    mapInArrow task per core, so the daemon's start (its pyspark imports,
    from the installed packages' bytecode when ``build_session`` chose
    the package's daemon), each worker's fork and the extraction stack's
    imports and regex caches are paid at session init instead of inside
    the first Arrow-stage query.

    This is the same steady-state policy the bench's extraction and
    streaming sections already apply with their own pre-timed warm-up
    passes (bench.py documents the rationale: on a long cluster run
    worker cold-start amortizes to zero, so per-query walls should
    measure the query). Reused workers (spark.python.worker.reuse,
    default on) keep the warmed pool for the whole session.
    """
    n = spark.sparkContext.defaultParallelism
    (
        spark.range(0, n, 1, n)
        .mapInArrow(_warm_batches, "id long")
        .write.format("noop").mode("overwrite").save()
    )
