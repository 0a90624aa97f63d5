#!/usr/bin/env python
"""Per-query cost breakdown for the bench headline set (r16 measure-first
pass, spark_optimization_guide §1).

For each query, times bench.py's protocol (``bench.time_query``) and
reports:

- cold_s   — the first noop write, plan construction included
  (codegen compile, AQE re-planning one-offs AND the compute that
  populates materialize()'d caches),
- steady_s — min of bench.STEADY_RUNS noop writes of a FRESHLY REBUILT
  plan WITHOUT unpersisting between runs (persisted intermediates from
  the cold run stay cached, CacheManager matches the rebuilt plan by
  canonicalized-plan equality),
- build_s  — wall time to CONSTRUCT the DataFrame once more after the
  steady runs (analysis on the driver; Catalyst optimization runs at
  action time, but plan-tree construction + analysis cost lives here),
- njobs    — Spark jobs launched by one steady run (AQE stage
  materializations show up here; a high count at tiny SF is
  driver-latency, not data work).

Usage: python tools/profile_bench.py [query ...]   (default: whole set)

Pointed at the scale fixture of ``tools/scale_spotcheck.py build``
(``SPARK_GRAFT_SF_DIR=<fixture>``) it is the scale spot check.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def main() -> None:
    spark = bench.session("profile-bench")
    qs = bench.query_map()
    names = sys.argv[1:] or bench.HEADLINE
    spark.read.parquet(os.path.join(bench.SF_DIR, "lineitem.parquet")).count()

    tracker = spark.sparkContext.statusTracker()
    out = {}
    for name in names:
        fn = qs[name]
        steady, cold = bench.time_query(spark, name, fn)
        njobs = len(tracker.getJobIdsForGroup(f"{name}:steady"))
        t0 = time.perf_counter()
        fn(spark, bench.SF_DIR)
        build = time.perf_counter() - t0
        bench.unpersist_all(spark)
        out[name] = {
            "build": round(build, 3),
            "cold": cold,
            "steady": steady,
            "njobs": njobs // bench.STEADY_RUNS,
        }
        print(
            f"{name:28s} build={build:6.3f} cold={cold:6.3f} "
            f"steady={steady:6.3f} njobs={out[name]['njobs']}",
            flush=True,
        )
    total = round(sum(v["steady"] for v in out.values()), 3)
    print(json.dumps({"total_steady": total, "sf_dir": bench.SF_DIR,
                      "cpus": bench.CPUS, "queries": out}))


if __name__ == "__main__":
    main()
