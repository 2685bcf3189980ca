"""readabilitysax-spark: PySpark-native main-content extraction engine
with the capabilities of fb55/readabilitySAX (see README.md).

Public API:

    from readabilitysax_spark import extract, process          # pure core
    from readabilitysax_spark import extract_articles          # Spark operator
    from readabilitysax_spark import read_pages, run_pipeline  # pipeline
"""

from . import zipimport_cache

zipimport_cache.install()  # per-task cost of Spark's Python workers

from .core.api import extract, process
from .core.stream_api import ChunkedExtractor, extract_from_events

__all__ = [
    "extract",
    "process",
    "ChunkedExtractor",
    "extract_from_events",
    "extract_articles",
    "read_pages",
    "run_pipeline",
]


def __getattr__(name):  # lazy: keep pyspark out of pure-core imports
    if name == "extract_articles":
        from .operators.extract import extract_articles

        return extract_articles
    if name == "read_pages":
        from .sources.pages import read_pages

        return read_pages
    if name == "run_pipeline":
        from .plans.pipeline import run_pipeline

        return run_pipeline
    raise AttributeError(name)
