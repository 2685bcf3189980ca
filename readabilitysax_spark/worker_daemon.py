"""Entry point of Spark's Python daemon (``spark.python.daemon.module``)
in sessions that ``sources.session.build_session`` builds.

Spark starts its daemon as ``python -m <module> pyspark.worker`` with
``$SPARK_HOME/python/lib/pyspark.zip`` first on ``PYTHONPATH``. That zip
ships no bytecode, so the stock ``pyspark.daemon`` compiles every pyspark
and py4j module it imports from source, once per SparkContext. This
module installs ``zipimport_cache.install_bytecode_cache()`` and then
runs the stock ``pyspark.daemon`` unchanged as ``__main__``; the workers
it forks inherit the cache.
"""

import runpy

from readabilitysax_spark import zipimport_cache

if __name__ == "__main__":
    zipimport_cache.install_bytecode_cache()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
