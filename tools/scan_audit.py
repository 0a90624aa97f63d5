#!/usr/bin/env python
"""Registry-wide scan-redundancy audit.

Round 7's drift fix generalizes: when one DataFrame feeds several
consumers whose downstream exchanges hash on different keys,
ReuseExchange never fires and the shared subplan — including the raw
corpus scan and its shuffle — replays once per consumer. Locally
that's milliseconds; at 100 TB each replay is a full corpus pass
(psi_drift's plan held EIGHT parquet scans before the fix).

This tool builds the physical plan of every query in bench.py's query
map (planning is driver-side; no job runs) and reports, per query, how
many times each base parquet table is scanned. Interpretation:

    1 scan   the normal case
    2 scans  usually a genuine self-join (dedup pair joins, asof self
             windows) — legitimate
    3+ scans the drift bug class: a shared frame recomputed per
             consumer — materialize it (operators.common.materialize)
             or restructure

Usage: python tools/scan_audit.py [--min N]   (default: report >= 2)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    from b3_analytics_engine_spark.plans import (
        parquet_scan_counts,
        physical_plan,
    )

    min_scans = 2
    if "--min" in sys.argv:
        min_scans = int(sys.argv[sys.argv.index("--min") + 1])

    spark = bench.session("scan-audit")
    qs = bench.query_map()
    rows = []
    for name, fn in qs.items():
        try:
            df = fn(spark, SF_DIR)
            tables = parquet_scan_counts(df)
            reused = physical_plan(df).count("ReusedExchange")
        except Exception as e:  # pragma: no cover - report, don't die
            rows.append((name, f"PLAN ERROR: {e}"))
            continue
        finally:
            bench.unpersist_all(spark)  # materialize() persists frames
        flagged = {t: n for t, n in tables.items() if n >= min_scans}
        if flagged:
            detail = ", ".join(f"{t}×{n}" for t, n in sorted(flagged.items()))
            rows.append((name, f"{detail}  (ReusedExchange: {reused})"))
    print(f"{'query':32s} tables scanned >= {min_scans}x in physical plan")
    for name, info in rows:
        print(f"{name:32s} {info}")
    print(f"\n{len(rows)} of {len(qs)} queries flagged")


if __name__ == "__main__":
    main()
