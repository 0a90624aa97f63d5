"""Correctness checkers, computed apart from the program: pandas and
DuckDB over the generated inputs and the files the program wrote.
Each returns a list of error strings; empty means correct. They run
outside every timed section and import no Spark."""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pandas as pd

REL_TOL = 1e-9


def _close(a, b, tol: float = REL_TOL) -> np.ndarray:
    a = np.asarray(a, dtype=float)
    b = np.asarray(b, dtype=float)
    both_nan = np.isnan(a) & np.isnan(b)
    return both_nan | np.isclose(a, b, rtol=tol, atol=tol)


# ------------------------------------------------------------------ E2


def expected_batch_rows(feed: pd.DataFrame) -> pd.DataFrame:
    """One micro-batch's warehouse rows, without the date column:
    latest brapi quote per symbol by ``_ingest_ts``, latest yfinance
    quote per ``.SA``-stripped symbol by ``timestamp``, inner join,
    falsy-guarded ``change_day``, null drop on close/volume/marketCap."""
    b = feed[feed["_feed"] == "brapi"]
    y = feed[feed["_feed"] == "yfinance"].copy()
    b = b.sort_values("_ingest_ts").groupby("symbol").tail(1)
    y["symbol"] = y["symbol"].str.replace(r"\.SA$", "", regex=True)
    y = y.sort_values("timestamp").groupby("symbol").tail(1)
    bcols = ["symbol", "longName", "regularMarketPrice", "regularMarketChange",
             "regularMarketChangePercent", "marketCap"]
    ycols = ["symbol", "open", "high", "low", "close", "volume"]
    out = b[bcols].merge(y[ycols], on="symbol", how="inner")
    for c in ("marketCap", "volume", "close"):
        out[c] = out[c].astype(float)
    falsy = out["close"].isna() | (out["close"] == 0) | out["open"].isna() | (out["open"] == 0)
    out["change_day"] = np.where(falsy, 0.0, out["close"] - out["open"])
    return out.dropna(subset=["close", "volume", "marketCap"])


def add_metrics(wh: pd.DataFrame) -> pd.DataFrame:
    """SMA-5 / SMA-20 over date order per symbol (min_periods=1) and
    the turnover ratio, nulls filled with 0 — the reference's
    calculate_metrics in pandas."""
    wh = wh.sort_values(["symbol", "date"]).reset_index(drop=True)
    g = wh.groupby("symbol")["close"]
    wh["sma_5"] = g.transform(lambda s: s.rolling(5, min_periods=1).mean()).fillna(0.0)
    wh["sma_20"] = g.transform(lambda s: s.rolling(20, min_periods=1).mean()).fillna(0.0)
    cap = wh["marketCap"].replace(0.0, np.nan)
    wh["turnover_ratio"] = (wh["volume"] * wh["close"] / cap).fillna(0.0)
    return wh


def check_e2(seed: pd.DataFrame, feeds: list[pd.DataFrame], got: pd.DataFrame) -> list[str]:
    """The warehouse after ``len(feeds)`` micro-batches over ``seed``.

    Each batch stamps all its rows with one processing-time ``date``
    later than every seeded date, so the k-th distinct new date is the
    k-th batch."""
    errs: list[str] = []
    seed_max = seed["date"].max()
    new_dates = sorted(got.loc[got["date"] > seed_max, "date"].unique())
    if len(new_dates) != len(feeds):
        return [f"{len(new_dates)} new snapshot dates for {len(feeds)} batches"]
    parts = [seed.drop(columns=["sma_5", "sma_20", "turnover_ratio"])]
    for d, feed in zip(new_dates, feeds):
        rows = expected_batch_rows(feed)
        rows["date"] = d
        parts.append(rows)
    want = add_metrics(pd.concat(parts, ignore_index=True))
    if len(got) != len(want):
        errs.append(f"row count {len(got)} != {len(want)}")
    dup = got.duplicated(["symbol", "date"]).sum()
    if dup:
        errs.append(f"{dup} duplicate (symbol, date) rows")
    if errs:
        return errs
    got = got.sort_values(["symbol", "date"]).reset_index(drop=True)
    if not (got["symbol"].values == want["symbol"].values).all() or not (
        got["date"].values == want["date"].values
    ).all():
        return ["(symbol, date) keys differ"]
    for c in want.columns:
        if c in ("symbol", "date"):
            continue
        if c == "longName":
            bad = (got[c].fillna("") != want[c].fillna("")).sum()
        else:
            bad = (~_close(got[c], want[c])).sum()
        if bad:
            errs.append(f"column {c}: {bad} rows differ")
    return errs


# ------------------------------------------------------------ queries


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0.0 else v
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, np.integer):
        return int(v)
    return v


def _coarse(v):
    return round(v, 3) if isinstance(v, float) else v


def normalize(rows, cols) -> list[tuple]:
    """Order-insensitive canonical form: columns sorted by name, rows
    sorted on values with floats cut to 3 decimals (so rows pair up
    even where two engines' float sums differ in the last digit)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: repr(tuple(_coarse(v) for v in t)))


def _same_row(a: tuple, b: tuple) -> bool:
    return len(a) == len(b) and all(
        math.isclose(x, y, rel_tol=REL_TOL, abs_tol=REL_TOL)
        if isinstance(x, float) and isinstance(y, float) else x == y
        for x, y in zip(a, b)
    )


def check_query(name: str, cols, rows, oracle_cols, oracle_rows) -> list[str]:
    """One registered query's rows against its DuckDB oracle's. Floats
    match to a relative 1e-9: both sides round to 6 decimals, and a
    double sum near a rounding boundary can land on either side of it
    depending on summation order."""
    if sorted(cols) != sorted(oracle_cols):
        return [f"{name}: columns {sorted(cols)} != {sorted(oracle_cols)}"]
    if len(rows) != len(oracle_rows):
        return [f"{name}: {len(rows)} rows != {len(oracle_rows)}"]
    a, b = normalize(rows, cols), normalize(oracle_rows, oracle_cols)
    bad = sum(1 for x, y in zip(a, b) if not _same_row(x, y))
    return [f"{name}: {bad} rows differ"] if bad else []


# ---------------------------------------------------------- dashboard


def dashboard_oracle(con, wh_glob: str, symbols: list[str]) -> dict[str, pd.DataFrame]:
    """The dashboard frames recomputed with DuckDB and the returns
    correlation with pandas, over the warehouse files."""
    con.execute(f"CREATE OR REPLACE VIEW wh AS SELECT * FROM read_parquet('{wh_glob}')")
    q = con.sql
    latest = "SELECT * FROM wh QUALIFY row_number() OVER (PARTITION BY symbol ORDER BY date DESC) = 1"
    out = {
        "symbols": q("SELECT DISTINCT symbol FROM wh").df(),
        "latest": q(f"SELECT symbol, date, close, volume, marketCap FROM ({latest})").df(),
        "top_volume": q("SELECT max(volume) AS v FROM wh").df(),
        "largest_move": q("SELECT max(abs(change_day)) AS v FROM wh").df(),
        "max_amplitude": q("SELECT max(high - low) AS v FROM wh").df(),
        "cap_share": q(
            f"SELECT symbol, marketCap, round(100.0 * marketCap / sum(marketCap) OVER (), 6) AS cap_pct "
            f"FROM ({latest})"
        ).df(),
    }
    px = q("SELECT symbol, date, close FROM wh").df().sort_values(["symbol", "date"])
    px["r"] = px.groupby("symbol")["close"].pct_change(fill_method=None)
    wide = px[px["symbol"].isin(symbols)].pivot(index="date", columns="symbol", values="r")
    out["corr"] = wide[symbols].corr()
    return out


def check_dashboard(got: dict[str, pd.DataFrame], want: dict[str, pd.DataFrame]) -> list[str]:
    """``got`` holds the program's frames as pandas: the six
    ``dashboard_frames`` entries plus ``corr``, the long-form
    ``(col_a, col_b, corr)`` correlation frame."""
    errs = []
    if sorted(got["symbols"]["symbol"]) != sorted(want["symbols"]["symbol"]):
        errs.append("symbols differ")
    for k in ("latest", "cap_share"):
        g = got[k].sort_values("symbol").reset_index(drop=True)
        w = want[k].sort_values("symbol").reset_index(drop=True)
        if len(g) != len(w) or list(g["symbol"]) != list(w["symbol"]):
            errs.append(f"{k}: symbol sets differ")
            continue
        for c in w.columns:
            if c == "symbol":
                continue
            if c == "date":
                ok = (pd.to_datetime(g[c], utc=True).values == pd.to_datetime(w[c], utc=True).values).all()
            else:
                ok = _close(g[c], w[c]).all()
            if not ok:
                errs.append(f"{k}.{c} differs")
    for k, col in (("top_volume", "volume"), ("largest_move", "abs_change"), ("max_amplitude", "amplitude")):
        if len(got[k]) != 1 or not _close(got[k][col], want[k]["v"]).all():
            errs.append(f"{k} differs")
    corr = {(r.col_a, r.col_b): r.corr for r in got["corr"].itertuples()}
    w = want["corr"].round(6)
    if len(corr) != w.size:
        errs.append(f"corr has {len(corr)} cells, want {w.size}")
    for a in w.index:
        for b in w.columns:
            if not _close([corr.get((a, b), np.nan)], [w.loc[a, b]], 1e-5).all():
                errs.append(f"corr[{a},{b}] {corr.get((a, b))} != {w.loc[a, b]}")
    return errs
