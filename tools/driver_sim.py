#!/usr/bin/env python
"""Driver-contract simulation: STOCK SparkSession + DuckDB oracle
hashing, the way the grading driver consumes __spark_entry__.py.

Usage:
    python tools/driver_sim.py [query ...]   # default: sample
    python tools/driver_sim.py --all         # full sweep
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

# the grading driver checks sf0.01; override to cross-check another
# scale (values, not just shapes, must match at every SF)
SF_DIR = os.environ.get("DRIVER_SIM_SF", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        v = round(v, 9) + 0.0  # kill -0.0
        return repr(v)
    if isinstance(v, (datetime.datetime,)):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (datetime.date,)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        repr(tuple(norm(r[i]) for i in order)) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    # stock session, as the __spark_entry__ contract's consumer builds
    # it — deliberately NOT bench.session()
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    rows = E.entry(spark).collect()
    print(f"entry(): {len(rows)} rows  schema ok")
    assert len(rows) >= 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    args = sys.argv[1:]
    if args and args[0] == "--all":
        names = [n for n in qs if n in oracles]
    elif args:
        names = args
    else:
        names = [
            "fuzzy_levenshtein_pairs",  # changed this session
            "ngram_novelty",            # changed last session-end
            "dedup_minhash_lsh",
            "pricing_summary",
            "funnel_conversion",
            "quarantine_rows",
        ]

    unknown = sorted(set(names) - set(qs))
    if unknown:
        sys.exit(
            f"unknown quer{'y' if len(unknown) == 1 else 'ies'}: "
            f"{', '.join(unknown)} — names come from "
            "__spark_entry__.queries(); run with no args for the "
            "default sample or --all for the full registry"
        )
    bad = []
    for n in names:
        sdf = qs[n](spark, SF_DIR)
        srows = sdf.collect()
        scols = sdf.columns
        spark.catalog.clearCache()
        ores = con.execute(oracles[n])
        ocols = [d[0] for d in ores.description]
        orows = ores.fetchall()
        ok_rows = len(srows) == len(orows)
        ok_schema = sorted(scols) == sorted(ocols)
        ok_hash = value_hash(scols, srows) == value_hash(ocols, orows)
        status = "OK " if (ok_rows and ok_schema and ok_hash) else "FAIL"
        print(
            f"{status} {n:32s} spark={len(srows):6d} oracle={len(orows):6d} "
            f"schema={ok_schema} hash={ok_hash}"
        )
        if status == "FAIL":
            bad.append(n)
    if bad:
        print("FAILURES:", bad)
        sys.exit(1)
    print(f"all {len(names)} green")


if __name__ == "__main__":
    main()
