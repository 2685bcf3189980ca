"""Round-6 optimization measurement harness (guide §1).

Isolates each declared query with the noop sink so computation is
timed without the count() short-circuit, counts Spark jobs per query,
and dumps `.explain("formatted")` plans to plans/r06/.

NOT the driver's bench: bench.py stays frozen; this file exists so
OPTIMIZATION_r06.md numbers are reproducible.

Usage:
  python bench_extra.py [--queries name1,name2] [--reps 2] \
      [--plans-dir plans/r06] [--suffix _before] [--no-plans] [--count]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--plans-dir", default="")
    ap.add_argument("--suffix", default="_before")
    ap.add_argument("--count", action="store_true",
                    help="time .count() like bench.py instead of noop sink")
    ap.add_argument("--json-out", default="")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from bench import host_noise_probe
    from readabilitysax_spark.sources.session import (
        build_session,
        warm_python_workers,
    )

    pre = host_noise_probe(runs=2)
    print(f"host_pre: tag={pre['tag']} level={pre['level_sec']} "
          f"spread={pre['spread']}", flush=True)

    spark = build_session(master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    names = [n for n in args.queries.split(",") if n] or list(entry.queries())
    qs = entry.queries()

    # mirror bench.py: the worker pool is warmed and the IVF index is
    # built once before the loop
    t0 = time.perf_counter()
    warm_python_workers(spark)
    entry._ivf_index(spark, SF_DIR)
    build_sec = round(time.perf_counter() - t0, 3)

    results: dict[str, dict] = {"_ivf_build_sec": {"best": build_sec}}
    for name in names:
        fn = qs[name]
        walls = []
        n_jobs = 0
        for rep in range(args.reps):
            group = f"r06-{name}-{rep}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            if args.count:
                df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
            n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            sc.setJobGroup("idle", "idle")
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            plan = fn(spark, SF_DIR)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(
                os.path.join(args.plans_dir, f"{name}{args.suffix}.txt"), "w"
            ) as f:
                f.write(plan)
        results[name] = {
            "walls": [round(w, 3) for w in walls],
            "best": round(min(walls), 3),
            "jobs_last_rep": n_jobs,
        }
        print(f"{name:32s} best={min(walls):7.3f}  "
              f"walls={[round(w, 2) for w in walls]}  jobs={n_jobs}",
              flush=True)
    total_best = round(
        sum(v["best"] for k, v in results.items() if not k.startswith("_")), 3
    )
    post = host_noise_probe(runs=2)
    print(f"{'TOTAL(best)':32s} {total_best}")
    print(f"host_post: tag={post['tag']} level={post['level_sec']} "
          f"spread={post['spread']}", flush=True)
    results["_host"] = {"pre": pre, "post": post}
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump({"sf_dir": SF_DIR, "cpus": CPUS, "total_best": total_best,
                       "queries": results}, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
