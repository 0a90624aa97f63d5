"""Local mirror of the driver's correctness gate: for every registry
query with an oracle, run the Spark query AND the DuckDB SQL at sf0.01
and compare row count + column names + order-insensitive values.

On VALUES the comparison is stricter than a hash: exact equality on
non-floats, equality-after-round(6) already applied inside the
queries for floats. On SHAPE it is weaker: ``_norm_cell`` tolerates
list cells (converts to tuples and sorts by repr) where the driver's
pandas ``sort_values`` canonicalizer CRASHES on unhashable complex
cells — round 5's ``feature_hashing`` red proved it. That gap is
closed by ``test_no_complex_output_columns`` below, which bans
Array/Map/Struct columns from every registered query's output, so
list tolerance here can never again mask a driver-side shape crash.
"""

from __future__ import annotations

import datetime as dt
import math

import pytest

from b3_analytics_engine_spark.queries import registry
from b3_analytics_engine_spark.tables import ORACLE_SF_DIR, SMOKE_SF_DIR


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # guard against -0.0 vs 0.0 cross-engine
        if v == 0.0:
            return 0.0
        return v
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    return v


def _normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


ORACLE_SPECS = [s for s in registry().values() if s.oracle is not None]

# The sweep's HEAVY TAIL runs its differential at sf0.001 instead of
# sf0.01 (r11 verdict task #3 — the default gate must cut WORK, not
# parallelism, to fit 15 min; these are every query that measured
# ≥ 2 s at sf0.01 on this box, ~75 s of the sweep's ~165 s). The
# parity contract is unchanged — same query, same oracle SQL, same
# value comparison, smaller fixture — and the sf0.01 differential for
# these queries is still proven every round by `tools/driver_sim.py
# --all` (plus the external driver itself) and by the opt-in
# `-m scale_sweep` tier's sf0.001+sf0.1 pass.
HEAVY_TAIL_SMOKE = {
    "decontaminate_fuzzy", "time_range_window", "semantic_dedup",
    "corpus_curation", "cosine_ann_ivf", "embedding_neardup_exact",
    "dedup_minhash_lsh", "feature_hashing", "dedup_simhash",
    "cosine_ann_lsh", "decontaminate", "video_frame_stats",
    "unpivot_measures", "ngram_jaccard_pairs", "trade_pagerank",
    "sequence_packing", "dup_cluster_keep", "approx_aggregates",
    "table_profile", "source_overlap",
}


@pytest.mark.parametrize("spec", ORACLE_SPECS, ids=lambda s: s.name)
def test_query_matches_oracle(spec, spark, duck_oracle, duck_smoke):
    if spec.name in HEAVY_TAIL_SMOKE:
        sf_dir, duck = SMOKE_SF_DIR, duck_smoke
    else:
        sf_dir, duck = ORACLE_SF_DIR, duck_oracle
    sdf = spec.fn(spark, sf_dir)
    spark_cols = sdf.columns
    try:
        spark_rows = [tuple(r) for r in sdf.collect()]
    finally:
        # operators.common.materialize persists multi-consumer frames;
        # 151 queries against one session would otherwise accumulate
        # cache entries (the same hygiene bench.unpersist_all does)
        spark.catalog.clearCache()

    res = duck.sql(spec.oracle)
    duck_cols = res.columns
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{spec.name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{spec.name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    ns = _normalize(spark_rows, spark_cols)
    nd = _normalize(duck_rows, duck_cols)
    mism = [
        (i, a, b) for i, (a, b) in enumerate(zip(ns, nd)) if a != b
    ]
    assert not mism, f"{spec.name}: {len(mism)} mismatched rows; first 3: {mism[:3]}"


def test_registry_order_and_full_oracle_coverage():
    # the external checker samples the FIRST 50 registry entries;
    # _DRIVER_PRIORITY pins which queries occupy that window. Guard
    # the invariants the rotation depends on: the priority names all
    # exist, fill the window exactly once each, and every registered
    # query carries a DuckDB oracle.
    from b3_analytics_engine_spark.queries import _DRIVER_PRIORITY

    regs = registry()
    assert len(_DRIVER_PRIORITY) == len(set(_DRIVER_PRIORITY))
    first = list(regs)[: len(_DRIVER_PRIORITY)]
    assert first == list(_DRIVER_PRIORITY)
    missing_oracle = [n for n, s in regs.items() if s.oracle is None]
    assert not missing_oracle, missing_oracle


def test_entry_smoke_contract(spark):
    # the driver's FIRST gate: entry(spark) at sf0.001 must produce
    # rows with the flagship warehouse-metrics schema. Run it here so
    # a warehouse_metrics refactor fails in the suite, never first in
    # the driver's smoke check.
    import __spark_entry__ as E

    rows = E.entry(spark).collect()
    assert len(rows) > 0
    assert set(rows[0].asDict()) == {
        "user_id", "day", "close", "high", "low", "volume", "n_events",
        "sma_5", "sma_20", "daily_return", "cumulative_return",
        "turnover_ratio",
    }


def test_all_declared_queries_run(spark):
    # every registry entry (oracle or not) must at least execute and
    # return a stable schema at smoke scale. Executions are submitted
    # from a small thread pool: Spark job submission is thread-safe,
    # each sf0.001 query occupies a handful of tasks, and local[32]
    # has far more slots than any single query uses — serial
    # submission measured 81 s, threaded ~4x less, identical contract
    # (every query still executes; the first failure surfaces with
    # its query name). The queries the oracle sweep now runs at smoke
    # scale (HEAVY_TAIL_SMOKE) already fully executed there, so they
    # are not re-run.
    from concurrent.futures import ThreadPoolExecutor

    def run(spec):
        df = spec.fn(spark, SMOKE_SF_DIR)
        assert df.columns, f"{spec.name} returned no columns"
        df.limit(5).collect()
        return spec.name

    todo = [
        s for s in registry().values() if s.name not in HEAVY_TAIL_SMOKE
    ]
    with ThreadPoolExecutor(max_workers=8) as ex:
        done = list(ex.map(run, todo))
    assert len(done) == len(todo)


def test_no_complex_output_columns(registry_plan_audit):
    # DRIVER CONTRACT: the external checker canonicalizes each result
    # frame with pandas sort_values over every column, which raises
    # TypeError on unhashable cells — so a registered query whose
    # output schema contains ArrayType/MapType/StructType is a
    # guaranteed driver red regardless of the values being correct
    # (round 5's feature_hashing). Schemas ride the shared
    # registry_plan_audit pass instead of re-analyzing all 151 plans.
    from pyspark.sql import types as T

    offenders = []
    for name, audit in registry_plan_audit.items():
        for f in audit["schema"].fields:
            if isinstance(
                f.dataType, (T.ArrayType, T.MapType, T.StructType)
            ):
                offenders.append((name, f.name, str(f.dataType)))
    assert not offenders, (
        "complex-typed output columns break the driver's pandas "
        f"canonicalizer: {offenders}"
    )


def test_no_risky_oracle_output_types(duck_oracle):
    # DRIVER CONTRACT, oracle side (the mirror of the test above): the
    # checker fetches the DuckDB result into pandas, where HUGEINT
    # (int128, e.g. sum(CASE...)) lands as float64 and hash-mismatches
    # Spark's int64 even with identical values (round 6's
    # lang_mismatch_audit), and DECIMAL/LIST/STRUCT/MAP cells are
    # object-dtype or unhashable. LIMIT-0 type-scan every oracle; this
    # class of bug has now struck once per side, kill it for good.
    banned = ("HUGEINT", "DECIMAL", "STRUCT", "MAP(", "UNION", "[]")
    offenders = []
    for spec in ORACLE_SPECS:
        rel = duck_oracle.sql(f"SELECT * FROM ({spec.oracle}) _q LIMIT 0")
        for col, typ in zip(rel.columns, rel.types):
            t = str(typ).upper()
            if any(b in t for b in banned):
                offenders.append((spec.name, col, t))
    assert not offenders, (
        "oracle output types that pandas-canonicalize away from the "
        f"Spark dtype (cast to BIGINT/DOUBLE/VARCHAR in the SQL): {offenders}"
    )


def test_pricing_summary_sums_are_order_independent(spark, tmp_path):
    # Three prices whose double sum misses the exact sum in the sixth
    # decimal in EVERY summation order, so a double accumulator fails
    # however Spark or DuckDB happen to order the rows. Summed exactly
    # (as whole millionths in a BIGINT), the query and its oracle SQL
    # both return the exact sum (and agree with each other, which the
    # sf0.01 differential alone cannot show on data where the orders
    # happen to agree).
    import itertools
    from decimal import Decimal

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    prices = [1226779812.18, 7686120831.36, 4462136543.24]
    exact = float(sum(Decimal(repr(p)) for p in prices))
    assert all(
        round(sum(order), 6) != exact
        for order in itertools.permutations(prices)
    )
    n = len(prices)
    pq.write_table(
        pa.table({
            "l_orderkey": pa.array(range(1, n + 1), pa.int64()),
            "l_partkey": pa.array([1] * n, pa.int64()),
            "l_suppkey": pa.array([1] * n, pa.int64()),
            "l_linenumber": pa.array([1] * n, pa.int32()),
            "l_quantity": pa.array([1.0, 2.0, 3.0]),
            "l_extendedprice": pa.array(prices),
            "l_discount": pa.array([0.0] * n),
            "l_tax": pa.array([0.0] * n),
            "l_returnflag": pa.array(["A"] * n),
            "l_linestatus": pa.array(["F"] * n),
            "l_shipdate": pa.array(
                [dt.datetime(1999, 1, 1)] * n, pa.timestamp("us")
            ),
        }),
        str(tmp_path / "lineitem.parquet"),
    )
    spec = registry()["pricing_summary"]
    (got,) = spec.fn(spark, str(tmp_path)).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'lineitem.parquet'}')"
    )
    res = con.sql(spec.oracle)
    (want,) = [dict(zip(res.columns, r)) for r in res.fetchall()]
    con.close()
    for row in (got.asDict(), want):
        assert row["sum_base_price"] == exact, row
        assert row["sum_disc_price"] == exact, row
        assert row["sum_charge"] == exact, row
        assert row["sum_qty"] == 6.0 and row["count_order"] == n, row
    assert got.asDict() == want
