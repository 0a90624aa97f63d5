"""The benchmark's correctness checkers must pass a correct output and
reject a deliberately corrupted one. No Spark: the "program output"
is built from the checkers' own reference computation, then broken.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import datetime as dt

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

import checks
import gen

NOW = dt.datetime(2026, 1, 2, tzinfo=dt.timezone.utc)


@pytest.fixture()
def e2_case(tmp_path):
    """A seeded warehouse, two feed files and the warehouse the
    pipeline should leave after consuming them."""
    rng = np.random.default_rng(3)
    wh = str(tmp_path / "wh")
    gen.seed_warehouse(wh, rng, n_symbols=6, per_symbol=30, now=NOW)
    seed = pq.read_table(wh).to_pandas()
    feeds = []
    for k in range(2):
        p = str(tmp_path / f"feed-{k}.parquet")
        gen.feed_file(p, rng, n_symbols=6, k=k)
        feeds.append(pq.read_table(p).to_pandas())
    parts = [seed.drop(columns=["sma_5", "sma_20", "turnover_ratio"])]
    for k, feed in enumerate(feeds):
        rows = checks.expected_batch_rows(feed)
        rows["date"] = pd.Timestamp(NOW) + pd.Timedelta(minutes=k + 1)
        parts.append(rows)
    good = checks.add_metrics(pd.concat(parts, ignore_index=True))
    return seed, feeds, good


def test_e2_accepts_correct_warehouse(e2_case):
    seed, feeds, good = e2_case
    # row order in the files is irrelevant
    assert checks.check_e2(seed, feeds, good.sample(frac=1, random_state=0)) == []


def test_e2_rejects_one_sma_value_off(e2_case):
    seed, feeds, good = e2_case
    bad = good.copy()
    bad.loc[17, "sma_20"] += 0.01
    assert any("sma_20" in e for e in checks.check_e2(seed, feeds, bad))


def test_e2_rejects_a_duplicate_snapshot_row(e2_case):
    seed, feeds, good = e2_case
    bad = pd.concat([good, good.iloc[[3]]], ignore_index=True)
    assert checks.check_e2(seed, feeds, bad)


def test_e2_rejects_a_change_day_without_falsy_guard(e2_case):
    seed, feeds, good = e2_case
    zero_open = good.index[(good["open"] == 0.0)]
    assert len(zero_open), "the generator plants open == 0.0 quotes"
    bad = good.copy()
    i = zero_open[0]
    bad.loc[i, "change_day"] = bad.loc[i, "close"] - bad.loc[i, "open"]
    assert any("change_day" in e for e in checks.check_e2(seed, feeds, bad))


def test_e2_rejects_a_stale_quote(e2_case):
    """A batch row built from an earlier quote than the latest one."""
    seed, feeds, good = e2_case
    bad = good.copy()
    i = bad.index[bad["date"] > seed["date"].max()][0]
    bad.loc[i, "close"] += 1.0
    assert checks.check_e2(seed, feeds, bad)


def test_query_check_rejects_one_changed_row():
    cols = ["k", "v"]
    rows = [(1, 0.5), (2, 1.25), (3, None)]
    shuffled = [rows[2], rows[0], rows[1]]
    assert checks.check_query("q", cols, rows, ["v", "k"], [(v, k) for k, v in shuffled]) == []
    changed = [(1, 0.5), (2, 1.250001), (3, None)]
    assert checks.check_query("q", cols, changed, cols, rows) == ["q: 1 rows differ"]
    # a last-digit flip of a 6-dp rounded double sum is not a difference
    flip = [(1, 756680992.110001)], [(1, 756680992.110002)]
    assert checks.check_query("q", cols, flip[0], cols, flip[1]) == []
    assert checks.check_query("q", cols, rows[:2], cols, rows)


def test_dashboard_check_rejects_a_wrong_latest_close(tmp_path):
    rng = np.random.default_rng(5)
    wh = str(tmp_path / "wh")
    gen.seed_warehouse(wh, rng, n_symbols=4, per_symbol=25, now=NOW)
    syms = gen.symbols(2)
    con = duckdb.connect()
    want = checks.dashboard_oracle(con, f"{wh}/*.parquet", syms)
    con.close()
    wh_df = pq.read_table(wh).to_pandas()
    got = {
        "symbols": want["symbols"],
        "latest": want["latest"].copy(),
        "cap_share": want["cap_share"],
        "top_volume": pd.DataFrame({"volume": [wh_df["volume"].max()]}),
        "largest_move": pd.DataFrame({"abs_change": [wh_df["change_day"].abs().max()]}),
        "max_amplitude": pd.DataFrame({"amplitude": [(wh_df["high"] - wh_df["low"]).max()]}),
        "corr": pd.DataFrame(
            [(a, b, want["corr"].round(6).loc[a, b]) for a in syms for b in syms],
            columns=["col_a", "col_b", "corr"],
        ),
    }
    assert checks.check_dashboard(got, want) == []
    got["latest"].loc[0, "close"] += 0.5
    assert checks.check_dashboard(got, want) == ["latest.close differs"]


def test_generators_are_seeded(tmp_path):
    for i, fn in enumerate((
        lambda p, rng: gen.feed_file(p, rng, n_symbols=5, k=0),
        lambda p, rng: gen.seed_warehouse(p, rng, n_symbols=5, per_symbol=10, now=NOW),
    )):
        paths = [str(tmp_path / f"gen{i}-{run}") for run in range(2)]
        for p in paths:
            fn(p, np.random.default_rng(11))
        assert pq.read_table(paths[0]).equals(pq.read_table(paths[1]))
