"""Cross-scale differential sweep (r8 verdict task #5): PARITY.md's
"hash-identical at sf0.001 / sf0.01 / sf0.1" claim, promoted from a
manual tool run (tools/driver_sim.py + DRIVER_SIM_SF) into the suite
so a scale-stability regression fails CI.

Marked `scale_sweep` and excluded from the default run (pytest.ini
addopts): the default suite already proves all 151 queries at sf0.01;
this sweep re-proves the two OTHER fixture scales for the queries
where scale is the risk —

- the revenue family: corpus-growing DECIMAL(38,6) sums, the exact
  queries that FAILED at sf0.1 before the r8 scale-stable recipe;
- one representative per query family, so a scale-dependent plan or
  rounding change anywhere in the operator library trips at least
  one row here.

Run with:  python -m pytest -m scale_sweep -q
"""

from __future__ import annotations

import pytest

from b3_analytics_engine_spark.queries import registry
from conftest import make_duck
from test_oracle_parity import _normalize

# the seven corpus-growing money/metric aggregates (PARITY.md round-8
# diagnosis: all seven diverged at sf0.1 under double-SUM accumulation)
REVENUE_FAMILY = [
    "regional_revenue", "rollup_revenue", "cube_revenue",
    "time_range_window", "incident_window_join", "min_cost_supplier",
    "tumbling_window_agg",
]

# one representative per query family (chosen for plan diversity, not
# speed: banded self-join, inverted index, window suite, stateful
# Arrow pass, drift scan, codec, sessionization, ANN verify)
FAMILY_SAMPLE = [
    "pricing_summary",        # scan + hash agg (TPC-H Q1 shape)
    "snapshot_join",          # broadcast dim join + derive
    "latest_per_key",         # window top-1 per key
    "warehouse_metrics",      # SMA window suite
    "dedup_exact",            # fingerprint groupBy
    "dedup_minhash_lsh",      # banded LSH self-join + verify
    "dedup_minhash_cross",    # asymmetric two-corpus banded join (r16)
    "ngram_novelty",          # shingle postings, one-pass window
    "char_entropy",           # char explode window-sum
    "cosine_topk",            # brute-force ANN verify frame
    "sequence_packing",       # stateful mapInPandas scan
    "psi_drift",              # binned drift audit
    "k_anonymity",            # release-gate quality audit
    "png_decode_stats",       # stdlib codec via mapInPandas
    "scd2_history",           # slowly-changing-dimension windows
    "funnel_conversion",      # sessionized event funnel
    "corpus_curation",        # zero-join aggregation pipeline (r17)
    "asof_join",              # single-scan as-of join (r17)
    "semi_anti_join",         # semi/anti marker join (r17)
]

SWEEP = REVENUE_FAMILY + FAMILY_SAMPLE
SCALES = ["/root/testdata/sf0.001", "/root/testdata/sf0.1"]


@pytest.fixture(scope="module", params=SCALES, ids=["sf0.001", "sf0.1"])
def duck_at_scale(request):
    con = make_duck(request.param)
    yield request.param, con
    con.close()


@pytest.mark.scale_sweep
@pytest.mark.parametrize("name", SWEEP)
def test_query_matches_oracle_across_scales(name, spark, duck_at_scale):
    sf_dir, con = duck_at_scale
    spec = registry()[name]
    sdf = spec.fn(spark, sf_dir)
    try:
        spark_rows = [tuple(r) for r in sdf.collect()]
        spark_cols = sdf.columns
    finally:
        spark.catalog.clearCache()
    res = con.sql(spec.oracle)
    duck_cols = res.columns
    duck_rows = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols), f"{name}@{sf_dir}"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}@{sf_dir}: rows {len(spark_rows)} vs {len(duck_rows)}"
    )
    ns = _normalize(spark_rows, spark_cols)
    nd = _normalize(duck_rows, duck_cols)
    mism = [(i, a, b) for i, (a, b) in enumerate(zip(ns, nd)) if a != b]
    assert not mism, (
        f"{name}@{sf_dir}: {len(mism)} mismatched rows; first 3: {mism[:3]}"
    )
