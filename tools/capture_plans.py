#!/usr/bin/env python
"""Capture .explain("formatted") output per query into plans/<round>/.

Usage: python tools/capture_plans.py <suffix> <query> [query ...]

Writes plans/$PLANS_ROUND/<query>_<suffix>.txt (default r17) for each
named query (bench.py's query map: registered queries plus the
bench-only callables), so the plan claims in OPTIMIZATION_r*.md can
be checked against the code.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

OUT = os.path.join(REPO, "plans", os.environ.get("PLANS_ROUND", "r17"))


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(OUT, exist_ok=True)
    spark = bench.session("capture-plans")
    qs = bench.query_map()

    for name in names:
        df = qs[name](spark, bench.SF_DIR)
        # public capture (r16 advice #2): df.explain prints from
        # Python, so redirecting stdout avoids the private
        # PythonSQLUtils.explainString hook that moves between Spark
        # versions
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        path = os.path.join(OUT, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)", flush=True)
        bench.unpersist_all(spark)


if __name__ == "__main__":
    main()
