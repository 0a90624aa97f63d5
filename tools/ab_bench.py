#!/usr/bin/env python
"""Interleaved A/B micro-bench for registry queries.

Runs each named query variant N times interleaved (round-robin, not
back-to-back, so JIT/page-cache drift hits all variants equally),
reports min-of-N per variant, and times the `dedup_exact`
machine-state control (bench.py's protocol) first and last so numbers
can be normalized against it — the convention every ARCHITECTURE.md
A/B table uses.

Usage:
    python tools/ab_bench.py q1 q2 ...            # query-map names
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/ab_bench.py ...
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

N = int(os.environ.get("AB_ROUNDS", "3"))


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: ab_bench.py <query> [query...]", file=sys.stderr)
        sys.exit(2)
    spark = bench.session("ab-bench")
    qs = bench.query_map()

    def control() -> float:
        sec = bench.time_query(spark, bench.CONTROL, qs[bench.CONTROL]).steady
        bench.unpersist_all(spark)
        return sec

    ctl0 = control()
    times: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(N):
        for n in names:
            times[n].append(bench.run_noop(spark, qs[n]))
            bench.unpersist_all(spark)
    ctl1 = control()
    print(f"control {bench.CONTROL}: start {ctl0:.3f}s end {ctl1:.3f}s")
    for n in names:
        best = min(times[n])
        print(f"{n:32s} min {best:7.3f}s  runs {['%.3f' % t for t in times[n]]}")


if __name__ == "__main__":
    main()
