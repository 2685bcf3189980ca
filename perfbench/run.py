"""Repository benchmark: seeded extraction, pipeline and dedup workloads.

Run from the repository root::

    python3 perfbench/run.py --workload extract_uniform --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

A run sets up the program 1 + ``WARM_SETUPS`` times. The first set-up
starts the JVM and only checks the output; the warm local[nproc] set-ups
that follow are timed (``setup_s``) and share ``--seconds`` of timed
passes. The workload with the scaling pair also times local[1] passes.
With ``--trace 0`` it prints the end-to-end metrics; with ``--trace 1``
it runs a traced session (spans on and off in turn, plus Spark's event
log) and a local[1] boundary probe, and prints the per-layer metrics.
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Temporary files
go to ``.perfbench_work/`` and are removed at the end; span traces are kept
in ``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

import probes
from checks import Tally
from tracing import EventLog, Tracer
from workloads import WORKLOADS, DedupChain, PipelineResume, write_noop

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def listed_metrics(kind: str) -> list[tuple[str, str]]:
    """(name, unit) of the metrics BENCHMARK.json lists under ``kind``
    (``end_to_end`` or ``per_layer``): the ones the JSON line carries."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


# Warm local[nproc] set-ups per run; ``setup_s`` is their median. The
# first set-up of a run starts the JVM and only checks the output, so it
# is left out of ``setup_s`` and no timed pass runs on a cold JVM.
WARM_SETUPS = 2
# Share of --seconds for the local[1] passes of a workload with the scaling pair.
ONE_CORE_SHARE = 0.2
# Share of --seconds for the traced run's alternating traced/untraced passes.
TRACED_SHARE = 0.5


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_environment(work: str) -> None:
    """Environment for the Spark JVM and its Python workers, set before
    the JVM starts: workers import the program from this checkout, and
    Spark's temporary files stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # the JVM that assembles the command
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '{java_opts}' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )


def set_event_log(log_dir: str | None) -> None:
    """Turn Spark's event log on (``log_dir``) or off for the next session,
    through the JVM system properties a new SparkConf reads."""
    from pyspark import SparkContext

    system = SparkContext._jvm.java.lang.System
    if log_dir:
        os.makedirs(log_dir, exist_ok=True)
        system.setProperty("spark.eventLog.enabled", "true")
        system.setProperty("spark.eventLog.dir", "file://" + log_dir)
        system.setProperty("spark.eventLog.compress", "false")
        system.setProperty("spark.eventLog.rolling.enabled", "false")
    else:
        system.clearProperty("spark.eventLog.enabled")


class Session:
    """One program set-up: session build, worker warm-up, input, extras."""

    def __init__(self, wl, slots: int, tracer) -> None:
        from readabilitysax_spark.sources.session import build_session, warm_python_workers

        t0 = time.perf_counter()
        with tracer.span("session.build"):
            self.spark = build_session(master=f"local[{slots}]")
            self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        with tracer.span("session.warm"):
            warm_python_workers(self.spark)
        t2 = time.perf_counter()
        with tracer.span("pages.materialize"):
            wl.materialize(self.spark, wl.input_dir)
        wl.setup_extra(self.spark, tracer)
        t3 = time.perf_counter()
        self.build_s, self.warm_s, self.setup_s = t1 - t0, t2 - t1, t3 - t0

    def stop(self) -> None:
        self.spark.stop()


def timed_passes(wl, spark, tracer, budget_s: float) -> list:
    """Timed passes until ``budget_s`` has elapsed, at least one."""
    results = []
    start = time.perf_counter()
    while not results or time.perf_counter() - start < budget_s:
        with tracer.span("pass"):
            results.append(wl.run_pass(spark, tracer, check=False))
    return results


def check_session(wl, tracer):
    """The run's first set-up, which starts the JVM: one pass that checks
    the output and warms the JVM. Neither is timed."""
    sess = Session(wl, nproc(), tracer)
    try:
        return wl.run_pass(sess.spark, tracer, check=True).tally
    finally:
        sess.stop()


def run_end_to_end(wl, seconds: float, tracer) -> tuple[dict, dict, object]:
    tally = check_session(wl, tracer)
    if wl.scaling_pair:
        sess = Session(wl, 1, tracer)
        try:
            one_core = timed_passes(wl, sess.spark, tracer, ONE_CORE_SHARE * seconds)
        finally:
            sess.stop()
        seconds *= 1 - ONE_CORE_SHARE
    setups, walls = [], []
    for _ in range(WARM_SETUPS):
        sess = Session(wl, nproc(), tracer)
        try:
            walls += timed_passes(wl, sess.spark, tracer, seconds / WARM_SETUPS)
        finally:
            sess.stop()
        setups.append(sess.setup_s)
    n = wl.n_docs
    metrics = {
        "setup_s": statistics.median(setups),
        "wall_s": statistics.median(r.wall for r in walls),
        "docs_per_s": n / statistics.median(r.docs_wall for r in walls),
    }
    report = {
        "setup_s": f"median of {len(setups)} warm local[{nproc()}] set-ups {_fmt(setups)}",
        "wall_s": f"median of {len(walls)} local[{nproc()}] passes {_fmt(r.wall for r in walls)}",
        "docs_per_s": f"{n} docs in, local[{nproc()}]",
    }
    if wl.scaling_pair:
        dps1 = n / statistics.median(r.docs_wall for r in one_core)
        metrics["docs_per_s_1core"] = dps1
        metrics["scaling_eff"] = metrics["docs_per_s"] / (nproc() * dps1)
        report["docs_per_s_1core"] = (f"median of {len(one_core)} local[1] passes "
                                      f"{_fmt(r.docs_wall for r in one_core)}")
        report["scaling_eff"] = f"docs_per_s / ({nproc()} x docs_per_s_1core)"
    extras: dict[str, list] = {}
    for r in walls:
        for k, v in r.extras.items():
            extras.setdefault(k, []).append(v)
    for k, v in extras.items():
        metrics[k] = statistics.median(v)
        report[k] = f"median of {len(v)} local[{nproc()}] passes"
    return metrics, report, tally


def run_traced(wl, seed: int, seconds: float, tracer,
               work: str) -> tuple[dict, dict, object]:
    """Sessions: a cold one that only checks the output, a traced one with
    Spark's event log on, and a local[1] one for the boundary probe. The
    traced session alternates passes with spans on and off; the tracing
    overhead is the difference of their medians (the event log is on for
    both, so its own cost is not part of it). The traced session then
    runs the workload's probes once each, checked: the pipeline (fresh
    run and resume) over the workload's input, and the dedup chain with
    its IVF index build."""
    import bench

    extras = []  # prepared (the dedup oracle included) before anything is timed
    if wl.pipeline_probe:
        extras.append(PipelineResume())
        extras[-1].attach(wl, seed, os.path.join(work, "pipeline_probe"))
    if wl.dedup_probe:
        extras.append(DedupChain())
        os.makedirs(os.path.join(work, "dedup_probe"))
        extras[-1].prepare(seed, os.path.join(work, "dedup_probe"))
    level_before = bench.host_noise_probe(runs=2)["level_sec"]
    sessions = []

    def session(slots):
        sessions.append(Session(wl, slots, tracer))
        return sessions[-1]

    tally = check_session(wl, Tracer(tracer.run_id, enabled=False))
    log_dir = os.path.join(work, "eventlog")
    set_event_log(log_dir)
    sess = session(nproc())
    traced, untraced = [], []
    try:
        with wl.traced(tracer):
            # pairs in ABBA order, so neither kind is always the first pass
            start, pairs = time.perf_counter(), 0
            while pairs < 2 or time.perf_counter() - start < TRACED_SHARE * seconds:
                for on in (True, False) if pairs % 2 == 0 else (False, True):
                    tracer.enabled = on
                    try:
                        (traced if on else untraced).extend(
                            timed_passes(wl, sess.spark, tracer, 0.0))
                    finally:
                        tracer.enabled = True
                pairs += 1
        scan = []
        for _ in range(2):
            with tracer.span("scan") as s:
                write_noop(sess.spark.read.parquet(wl.scan_path))
            scan.append(s["end"] - s["start"])
        layer = wl.layer_metrics(sess.spark, tracer)
        for extra in extras:
            extra.setup_extra(sess.spark, tracer)
            with extra.traced(tracer):
                tally.add(extra.run_pass(sess.spark, tracer, check=True).tally)
            layer.update(extra.layer_metrics(sess.spark, tracer))
    finally:
        sess.stop()
        set_event_log(None)
    log = EventLog.from_dir(log_dir)
    for w in (wl, *extras):
        layer.update(w.log_metrics(tracer, log, nproc()))
    spark_m = log.summary(tracer.windows("pass"), nproc())

    sess = session(1)
    try:
        boundary = probes.boundary_probe(sess.spark, wl.probe_frame(sess.spark),
                                         wl.n_docs, tracer)
        rss = probes.python_worker_peak_rss_mb()
    finally:
        sess.stop()
    core, t = probes.core_probe(wl.sample_pages(), tracer)
    tally.add(t)
    level_after = bench.host_noise_probe(runs=2)["level_sec"]

    metrics = dict(core)
    metrics.update({
        "extract.boundary_ms_per_page": boundary["identity"] - boundary["scan"],
        "extract.udf_overhead_ms_per_page": boundary["extract"] - core["api.ms_per_page"],
        "extract.py_worker_peak_rss_mb": rss,
        "scan.s": statistics.median(scan),
        "session.build_s": statistics.median(s.build_s for s in sessions),
        "session.warm_s": statistics.median(s.warm_s for s in sessions),
        "host.level_s": (level_before + level_after) / 2,
        "trace.overhead_s": statistics.median(r.wall for r in traced)
                            - statistics.median(r.wall for r in untraced),
    })
    metrics.update({f"spark.{k}": v for k, v in spark_m.items()})
    metrics.update(layer)
    report = {
        "host.level_s": f"before {level_before:.4f} s, after {level_after:.4f} s",
        "trace.overhead_s": f"median of {len(traced)} traced passes minus median of "
                            f"{len(untraced)} untraced, alternating in one session",
        "session.build_s": f"median of {len(sessions)} warm set-ups",
        "extract.boundary_ms_per_page": (
            f"local[1]: identity mapInArrow {boundary['identity']:.4f} - scan "
            f"{boundary['scan']:.4f} ms/page; extract_articles {boundary['extract']:.4f} ms/page"),
    }
    return metrics, report, tally


def _fmt(values) -> str:
    return "[" + ", ".join(f"{v:.3f}" for v in values) + "]"


def run_workload(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:

    wl = WORKLOADS[name]()
    wl_work = os.path.join(work, name)
    os.makedirs(wl_work)
    wl.prepare(seed, wl_work)
    run_id = f"{name}-seed{seed}-trace{int(trace)}-{int(time.time())}"
    tracer = Tracer(run_id, enabled=trace)
    if trace:
        metrics, report, tally = run_traced(wl, seed, seconds, tracer, wl_work)
        listed = listed_metrics("per_layer")
    else:
        metrics, report, tally = run_end_to_end(wl, seconds, tracer)
        listed = listed_metrics("end_to_end")
    units = dict(listed)
    print(f"== {name}  seed={seed}  trace={int(trace)}  local[{nproc()}]  run_id={run_id}")
    for key in sorted(metrics, key=lambda k: (k not in units, k)):
        note = report.get(key, "")
        print(f"  {key:40s} {metrics[key]:>16.6g} {units.get(key, _unit(key)):8s} {note}")
    print(f"  {'failed_frac':40s} {tally.failed_frac:>16.6g} {'ratio':8s} "
          f"{tally.failed} failed of {tally.attempted} checked")
    for note in tally.notes[:10]:
        print(f"  FAIL {note}")
    if trace:
        path = os.path.join(ROOT, ".perfbench_out", f"{run_id}.json")
        tracer.write(path, {"workload": name, "seed": seed, "metrics": metrics})
        print(f"  spans written to {os.path.relpath(path, ROOT)}")
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in listed if k in metrics},
    }


def _unit(key: str) -> str:
    """Unit of a printed metric that BENCHMARK.json does not list."""
    if key.endswith(("_s", ".s")):
        return "s"
    if key.endswith("bytes"):
        return "bytes"
    if key.startswith("docs_per_s"):
        return "docs/s"
    return "ratio" if key.endswith(("skew", "_byte", "_eff")) else "count"


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # on SIGTERM, unwind through the finally below: stop the JVM, drop temporary files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    configure_environment(work)
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    try:
        results = [(n, run_workload(n, args.seed, args.seconds, bool(args.trace), work))
                   for n in names]
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    if len(results) == 1:
        out = results[0][1]
    else:  # one object for the whole set: metrics keyed by workload
        out = {"correct": all(r["correct"] for _, r in results),
               "attempted": sum(r["attempted"] for _, r in results),
               "failed": sum(r["failed"] for _, r in results),
               "metrics": {f"{n}.{k}": v for n, r in results for k, v in r["metrics"].items()}}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.path[:0] = [ROOT]
    try:
        import pyspark  # noqa: F401
        import readabilitysax_spark
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        sys.exit(2)
    if not readabilitysax_spark.__file__.startswith(ROOT + os.sep):
        print(f"perfbench: the program is not in {ROOT}", file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
