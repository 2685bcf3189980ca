"""The benchmark workloads.

Each workload prepares its seeded inputs and expected outputs once
(``prepare``, untimed), materializes the program's input inside set-up
(``materialize``), and runs timed passes (``run_pass``). A pass run with
``check=True`` also compares the program's output with the expected
output and returns the tally.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import inputs
from checks import Tally, check_articles, check_query
from tracing import Tracer

ARTICLE_COLS = ["url", "title", "text", "text_length", "score", "next_page",
                "skip_level", "error"]
N_FILES = 8  # input parquet files, fixed so every slot count reads the same input


@dataclass
class PassResult:
    wall: float                 # the whole pass
    docs_wall: float            # the part that ``docs_per_s`` divides by
    extras: dict = field(default_factory=dict)
    tally: Tally = field(default_factory=Tally)


def write_noop(df) -> None:
    """Run ``df`` to completion into Spark's noop sink."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    n_docs = 0
    scaling_pair = False  # also time local[1] passes (docs_per_s_1core, scaling_eff)
    # the traced run also runs the pipeline over this input once, and the dedup chain once
    pipeline_probe = dedup_probe = False

    def prepare(self, seed: int, work: str) -> None:
        raise NotImplementedError

    def materialize(self, spark, dst: str) -> None:
        """Build the program's input under ``dst`` (timed as set-up)."""

    def setup_extra(self, spark, tracer: Tracer) -> None:
        """Further program set-up, timed as set-up."""

    def run_pass(self, spark, tracer: Tracer, check: bool) -> PassResult:
        raise NotImplementedError

    def sample_pages(self) -> list[tuple[str, bytes, int]]:
        """(url, html, weight) pages for the in-process core probe."""
        raise NotImplementedError

    def probe_frame(self, spark):
        """The (url, html, ...) pages frame the boundary probe reads."""
        return spark.read.parquet(self.input_dir)

    @property
    def scan_path(self) -> str:
        """The program input that the traced run's scan-only pass reads."""
        return self.input_dir

    def layer_metrics(self, spark, tracer: Tracer) -> dict:
        """Workload-specific per-layer metrics of the traced passes."""
        return {}

    def log_metrics(self, tracer: Tracer, log, slots: int) -> dict:
        """Workload-specific per-layer metrics from the Spark event log."""
        return {}

    def traced(self, tracer: Tracer):
        """Context in which the traced passes run (extra spans)."""
        return contextlib.nullcontext()


class _Extract(Workload):
    """Extraction of a pages table into a noop sink."""

    num_partitions: int | None = None
    pipeline_probe = dedup_probe = True

    def run_pass(self, spark, tracer, check):
        from readabilitysax_spark.operators.extract import extract_articles

        pages = spark.read.parquet(self.input_dir)
        articles = extract_articles(pages, num_partitions=self.num_partitions)
        t0 = time.perf_counter()
        with tracer.span("extract_articles.action"):
            if check:
                rows = articles.select(*ARTICLE_COLS).toArrow().to_pylist()
            else:
                write_noop(articles)
        wall = time.perf_counter() - t0
        tally = check_articles(rows, self.expected) if check else Tally()
        return PassResult(wall, wall, tally=tally)


def _skew(values: list[float]) -> float:
    return max(values) / max(statistics.median(values), 1) if values else 0.0


def _documents_and_expected(seed: int, n_docs: int, copies: int, raw: str) -> dict:
    from readabilitysax_spark.functions.pagegen import expected_article

    docs = inputs.documents(seed, n_docs)
    inputs.write_parquet(docs, raw)
    expected = {}
    for doc_id, text, source in zip(docs.column("doc_id").to_pylist(),
                                    docs.column("text").to_pylist(),
                                    docs.column("source").to_pylist()):
        for k in range(copies):
            exp = expected_article(doc_id * copies + k, text, source)
            expected[exp["url"]] = {**exp, "skip_level": 0}
    return expected


def _synthesize(spark, raw: str, copies: int, dst: str) -> None:
    from readabilitysax_spark.sources.pages import replicate_documents, synthesize_pages

    docs = replicate_documents(spark.read.parquet(raw), copies)
    synthesize_pages(docs.repartition(N_FILES)).write.mode("overwrite").parquet(dst)


class ExtractUniform(_Extract):
    name = "extract_uniform"
    scaling_pair = True
    DOCS, COPIES = 2500, 2

    def prepare(self, seed, work):
        self.raw = os.path.join(work, "raw_documents")
        self.input_dir = os.path.join(work, "input")
        self.expected = _documents_and_expected(seed, self.DOCS, self.COPIES, self.raw)
        self.n_docs = len(self.expected)
        self.seed = seed

    def materialize(self, spark, dst):
        _synthesize(spark, self.raw, self.COPIES, dst)

    def sample_pages(self):
        return _sample_input_pages(self.input_dir, self.seed, 400, self.n_docs)


def _sample_input_pages(input_dir: str, seed: int, k: int, n: int) -> list:
    table = pq.read_table(input_dir, columns=["url", "html"])
    rows = np.random.default_rng([seed, 5]).choice(table.num_rows, size=k, replace=False)
    urls = table.column("url").take(rows).to_pylist()
    htmls = table.column("html").take(rows).to_pylist()
    return [(u, h, n / k) for u, h in zip(urls, htmls)]


class ExtractSkewed(_Extract):
    name = "extract_skewed"
    REPLICAS = 100

    def prepare(self, seed, work):
        self.raw = os.path.join(work, "raw_pages")
        self.raw_giants = os.path.join(work, "raw_giants")
        self.input_dir = os.path.join(work, "input")
        pages, giants, self.expected = inputs.skewed_pages(seed, self.REPLICAS)
        inputs.write_parquet(pages, self.raw, N_FILES)
        inputs.write_parquet(giants, self.raw_giants)
        self.n_docs = len(self.expected)
        self.num_partitions = 2 * int(os.environ["SPARK_GRAFT_CPUS"])
        # the core probe takes each distinct page once, weighted by its copies
        base = inputs.fixture_pages() + inputs.hostile_pages()
        self._sample = [(f"{p['url']}#r0", p["html"].encode("utf-8"), self.REPLICAS)
                        for p in base]
        self._giants = giants

    def materialize(self, spark, dst):
        from readabilitysax_spark.sources.pages import synthesize_pages

        giants = synthesize_pages(spark.read.parquet(self.raw_giants)).select("url", "html")
        spark.read.parquet(self.raw).unionByName(giants).write.mode("overwrite").parquet(dst)

    def sample_pages(self):
        from readabilitysax_spark.functions.pagegen import synth_page

        giants = [synth_page(d, t, s) for d, t, s in zip(
            self._giants.column("doc_id").to_pylist(), self._giants.column("text").to_pylist(),
            self._giants.column("source").to_pylist())]
        return self._sample + [(u, h.encode("utf-8"), 1) for u, h in giants]


class PipelineResume(Workload):
    name = "pipeline_resume"
    DOCS, COPIES, BUCKETS = 1000, 2, 2
    dedup_probe = True

    def prepare(self, seed, work):
        self.raw = os.path.join(work, "raw_documents")
        self.input_dir = os.path.join(work, "input")
        self.expected = _documents_and_expected(seed, self.DOCS, self.COPIES, self.raw)
        self.n_docs = len(self.expected)
        self._start(seed, work)

    def attach(self, source: Workload, seed: int, work: str) -> None:
        """Run the pipeline over another workload's input instead of its own."""
        self.input_dir, self.expected, self.n_docs = (
            source.input_dir, source.expected, source.n_docs)
        self._start(seed, work)

    def _start(self, seed, work):
        self.out_root = os.path.join(work, "pipeline")
        self.seed = seed
        rng = np.random.default_rng([seed, 6])
        self.dropped = set(rng.choice(self.BUCKETS, self.BUCKETS // 2, replace=False).tolist())
        self.passes = 0
        self.last_out = None

    def materialize(self, spark, dst):
        _synthesize(spark, self.raw, self.COPIES, dst)

    def sample_pages(self):
        return _sample_input_pages(self.input_dir, self.seed, 400, self.n_docs)

    def run_pass(self, spark, tracer, check):
        from readabilitysax_spark.plans import pipeline

        self.passes += 1
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        out = self.last_out = os.path.join(self.out_root, f"pass-{self.passes}")
        with tracer.span("pipeline.fresh"):
            t0 = time.perf_counter()
            with tracer.span("run_pipeline"):
                fresh = pipeline.run_pipeline(spark, spark.read.parquet(self.input_dir), out,
                                              run_id=f"fresh-{self.passes}",
                                              n_buckets=self.BUCKETS)
            t_fresh = time.perf_counter() - t0
        _drop_commits(fresh["checkpoint_dir"], self.dropped)
        with tracer.span("pipeline.resume"):
            t1 = time.perf_counter()
            with tracer.span("run_pipeline"):
                resumed = pipeline.run_pipeline(spark, spark.read.parquet(self.input_dir), out,
                                                run_id=f"resume-{self.passes}",
                                                n_buckets=self.BUCKETS)
            t_resume = time.perf_counter() - t1
        wall = t_fresh + t_resume
        tally = Tally()
        if check:
            tally.check(fresh["buckets_done"] == self.BUCKETS,
                        f"fresh run committed {fresh['buckets_done']} of {self.BUCKETS} buckets")
            tally.check(resumed["buckets_done"] == len(self.dropped)
                        and resumed["buckets_skipped"] == self.BUCKETS - len(self.dropped),
                        f"resume redid {resumed['buckets_done']} buckets, "
                        f"skipped {resumed['buckets_skipped']}")
            committed = _committed(resumed["checkpoint_dir"])
            for b in range(self.BUCKETS):
                tally.check(b in committed, f"bucket {b} not committed")
            rows = (spark.read.parquet(resumed["articles_dir"]).select(*ARTICLE_COLS)
                    .toArrow().to_pylist())
            tally.add(check_articles(rows, self.expected))
        return PassResult(wall, t_fresh, {"resume_s": t_resume}, tally)

    def layer_metrics(self, spark, tracer):
        out = self.last_out
        ckpt = pq.read_table(os.path.join(out, "checkpoints")).to_pylist()
        metrics = pq.read_table(os.path.join(out, "metrics"), columns=["wall_ms"])
        written = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs]
        in_bytes = sum(os.path.getsize(os.path.join(d, f))
                       for d, _, fs in os.walk(self.input_dir) for f in fs)
        return {
            "pipeline.stage_s": _median(tracer.durations("stage_bucketed_pages")),
            "pipeline.verify_s": _median(tracer.durations("load_committed_buckets")),
            "pipeline.bucket_s": _median([r["wall_sec"] for r in ckpt]),
            "pipeline.resume_s": _median(tracer.durations("pipeline.resume")),
            "pipeline.bytes_written_per_input_byte":
                sum(os.path.getsize(p) for p in written) / in_bytes,
            "pipeline.files_written": len(written),
            "metrics.partition_wall_skew": _skew(metrics.column("wall_ms").to_pylist()),
        }

    def log_metrics(self, tracer, log, slots):
        # buckets (re)committed by the traced passes: all of them in each
        # fresh run, the dropped half in each resume
        fresh = tracer.windows("pipeline.fresh")
        resumes = tracer.windows("pipeline.resume")
        buckets = len(fresh) * self.BUCKETS + len(resumes) * len(self.dropped)
        jobs = log.summary(fresh + resumes, slots)["jobs"]
        return {"pipeline.jobs_per_bucket": jobs / max(buckets, 1)}

    def traced(self, tracer):
        """Spans around the pipeline's own public steps during traced passes."""
        from readabilitysax_spark.plans import pipeline

        stack = contextlib.ExitStack()
        stack.enter_context(tracer.wrap(pipeline, "stage_bucketed_pages", "stage_bucketed_pages"))
        stack.enter_context(tracer.wrap(pipeline, "load_committed_buckets",
                                        "load_committed_buckets"))
        return stack


def _median(values):
    return statistics.median(values) if values else 0.0


def _drop_commits(checkpoint_dir: str, buckets: set[int]) -> None:
    """Delete the checkpoint files that commit any of ``buckets``."""
    for name in os.listdir(checkpoint_dir):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(checkpoint_dir, name)
        if set(pq.read_table(path, columns=["bucket"]).column("bucket").to_pylist()) & buckets:
            os.remove(path)


def _committed(checkpoint_dir: str) -> set[int]:
    table = pq.read_table(checkpoint_dir, columns=["bucket", "status"]).to_pylist()
    return {r["bucket"] for r in table if r["status"] == "done"}


DEDUP_QUERIES = ("dedup_minhash_lsh", "dedup_simhash", "dedup_simhash64_pairs",
                 "dedup_ngram_jaccard", "dedup_clusters", "similarity_ivf_topk",
                 "blocklist_filter")


class DedupChain(Workload):
    name = "dedup_chain"
    DOCS, VECTORS = 1000, 400

    def prepare(self, seed, work):
        import __spark_entry__ as entry
        from tests.harness import _norm_rows, duck_connect

        self.sf_dir = os.path.join(work, "sf")
        os.makedirs(self.sf_dir)
        self.docs = inputs.documents(seed, self.DOCS)
        pq.write_table(self.docs, os.path.join(self.sf_dir, "documents.parquet"))
        pq.write_table(inputs.embeddings(seed, self.VECTORS),
                       os.path.join(self.sf_dir, "embeddings.parquet"))
        self.n_docs = self.DOCS
        self.input_dir = self.sf_dir
        self.queries = entry.queries()
        self.entry = entry
        # the oracle runs once per process and is not part of set-up
        con = duck_connect(self.sf_dir)
        self.oracle = {}
        for q in DEDUP_QUERIES:
            res = con.execute(entry.oracle_sql()[q])
            cols = [d[0] for d in res.description]
            self.oracle[q] = (cols, _norm_rows(cols, res.fetchall()))
        con.close()

    @property
    def scan_path(self):
        return os.path.join(self.sf_dir, "documents.parquet")

    def setup_extra(self, spark, tracer):
        with tracer.span("ivf.build"):
            self.entry._ivf_index(spark, self.sf_dir)

    def run_pass(self, spark, tracer, check):
        tally = Tally()
        t0 = time.perf_counter()
        for q in DEDUP_QUERIES:
            # building a query can itself run jobs, so the span covers it
            with tracer.span(f"query.{q}"):
                df = self.queries[q](spark, self.sf_dir)
                if check:
                    rows = [tuple(r) for r in df.collect()]
                else:
                    write_noop(df)
            if check:
                tally.add(check_query(q, df.columns, rows, *self.oracle[q]))
        wall = time.perf_counter() - t0
        return PassResult(wall, wall, tally=tally)

    def sample_pages(self):
        from readabilitysax_spark.functions.pagegen import synth_page

        k = 400
        rows = zip(self.docs.column("doc_id").to_pylist()[:k],
                   self.docs.column("text").to_pylist()[:k],
                   self.docs.column("source").to_pylist()[:k])
        return [(u, h.encode("utf-8"), self.DOCS / k)
                for u, h in (synth_page(d, t, s) for d, t, s in rows)]

    def probe_frame(self, spark):
        """The chain's documents as pages, written once outside any timing."""
        from readabilitysax_spark.sources.pages import read_pages

        path = os.path.join(self.sf_dir, "..", "probe_pages")
        read_pages(spark, self.sf_dir).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def layer_metrics(self, spark, tracer):
        out = {"ivf.build_s": _median(tracer.durations("ivf.build"))}
        for q in DEDUP_QUERIES:
            out[f"q.{q}.s"] = _median(tracer.durations(f"query.{q}"))
        return out

    def log_metrics(self, tracer, log, slots):
        out = {}
        for q in DEDUP_QUERIES:
            spans = tracer.windows(f"query.{q}")
            summ = log.summary(spans, slots)
            out[f"q.{q}.jobs"] = summ["jobs"] / len(spans)
            out[f"q.{q}.shuffle_bytes"] = summ["shuffle_write_bytes"] / len(spans)
        return out


WORKLOADS = {w.name: w for w in (ExtractUniform, ExtractSkewed, PipelineResume, DedupChain)}
