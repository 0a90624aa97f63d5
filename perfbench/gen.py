"""Seeded input generators. Everything here runs before any clock
starts and writes plain Parquet files with numpy/pyarrow, so the
program under test only ever receives files."""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------- E2 feeds

WAREHOUSE_SCHEMA = pa.schema(
    [
        ("symbol", pa.string()),
        ("longName", pa.string()),
        ("regularMarketPrice", pa.float64()),
        ("regularMarketChange", pa.float64()),
        ("regularMarketChangePercent", pa.float64()),
        ("marketCap", pa.float64()),
        ("open", pa.float64()),
        ("high", pa.float64()),
        ("low", pa.float64()),
        ("close", pa.float64()),
        ("volume", pa.float64()),
        ("change_day", pa.float64()),
        ("date", pa.timestamp("us", tz="UTC")),
        ("sma_5", pa.float64()),
        ("sma_20", pa.float64()),
        ("turnover_ratio", pa.float64()),
    ]
)

FEED_SCHEMA = pa.schema(
    [
        ("_feed", pa.string()),
        ("symbol", pa.string()),
        ("longName", pa.string()),
        ("regularMarketPrice", pa.float64()),
        ("regularMarketChange", pa.float64()),
        ("regularMarketChangePercent", pa.float64()),
        ("marketCap", pa.int64()),
        ("_ingest_ts", pa.int64()),
        ("open", pa.float64()),
        ("high", pa.float64()),
        ("low", pa.float64()),
        ("close", pa.float64()),
        ("volume", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
    ]
)


def symbols(n: int) -> list[str]:
    return [f"S{i:04d}" for i in range(n)]


def seed_warehouse(
    path: str, rng: np.random.Generator, n_symbols: int, per_symbol: int,
    now: dt.datetime, span_days: float = 39.0,
) -> None:
    """A warehouse of ``per_symbol`` snapshots per symbol, every date
    strictly inside ``(now - span_days, now - 1 min)`` so no row can
    cross the pipeline's 40-day history filter during a run. Metric
    columns are deliberately stale: every micro-batch recomputes them
    over the whole window, and the checker recomputes them too."""
    syms = np.repeat(np.array(symbols(n_symbols)), per_symbol)
    n = len(syms)
    span_us = int(span_days * 86400e6) - 60_000_000
    start_us = int(now.timestamp() * 1e6) - int(span_days * 86400e6) + 1_000_000
    # one snapshot time per poll, shared by every symbol (as the
    # pipeline stamps a whole micro-batch with one processing time)
    step = span_us // per_symbol
    polls = np.arange(per_symbol, dtype=np.int64) * step + rng.integers(0, step // 2, per_symbol)
    date_us = start_us + np.tile(polls, n_symbols)
    close = np.round(rng.uniform(5, 200, n), 2)
    opn = np.round(close * rng.uniform(0.97, 1.03, n), 2)
    opn[rng.random(n) < 0.02] = 0.0
    cap = rng.integers(10**8, 10**11, n).astype(np.float64)
    t = pa.table(
        {
            "symbol": syms,
            "longName": np.char.add("Company ", syms),
            "regularMarketPrice": close,
            "regularMarketChange": np.round(close - opn, 2),
            "regularMarketChangePercent": np.round(rng.normal(0, 2, n), 4),
            "marketCap": cap,
            "open": opn,
            "high": np.round(close * 1.02, 2),
            "low": np.round(close * 0.98, 2),
            "close": close,
            "volume": rng.integers(1000, 10**7, n).astype(np.float64),
            "change_day": np.where(opn == 0.0, 0.0, close - opn),
            "date": pa.array(date_us, pa.timestamp("us", tz="UTC")),
            "sma_5": np.zeros(n),
            "sma_20": np.zeros(n),
            "turnover_ratio": np.zeros(n),
        },
        schema=WAREHOUSE_SCHEMA,
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(t, os.path.join(path, "part-seed.parquet"))


def feed_file(
    path: str, rng: np.random.Generator, n_symbols: int, k: int,
    quotes_per_symbol: int = 3, mtime: float | None = None,
) -> int:
    """One tagged brapi+yfinance micro-batch: ``quotes_per_symbol``
    quotes per symbol on EACH feed with distinct ordering keys, so
    "latest" is unambiguous. yfinance symbols carry the ``.SA`` suffix
    the pipeline strips; ~2% of yfinance opens are exactly 0.0 so the
    falsy ``change_day`` guard is exercised. Returns the row count."""
    syms = np.array(symbols(n_symbols))
    q = quotes_per_symbol
    n = n_symbols * q
    rep = np.repeat(syms, q)
    order = np.tile(np.arange(q, dtype=np.int64), n_symbols)
    # brapi: "latest" = highest _ingest_ts (arrival order)
    ingest = (k * 1_000_000 + order * 1000 + rng.integers(0, 999, n)).astype(np.int64)
    b_price = np.round(rng.uniform(5, 200, n), 2)
    cap = rng.integers(10**8, 10**11, n).astype(np.int64)
    # yfinance: "latest" = highest event-time timestamp
    ts_us = (
        1_700_000_000_000_000 + k * 10**9 + order * 10**6 + rng.integers(0, 999_999, n)
    )
    close = np.round(rng.uniform(5, 200, n), 2)
    opn = np.round(close * rng.uniform(0.97, 1.03, n), 2)
    opn[rng.random(n) < 0.02] = 0.0
    nulls_s = pa.nulls(n, pa.string())
    nulls_f = pa.nulls(n, pa.float64())
    nulls_i = pa.nulls(n, pa.int64())
    brapi = pa.table(
        {
            "_feed": pa.array(["brapi"] * n),
            "symbol": rep,
            "longName": np.char.add("Company ", rep),
            "regularMarketPrice": b_price,
            "regularMarketChange": np.round(rng.normal(0, 1, n), 2),
            "regularMarketChangePercent": np.round(rng.normal(0, 2, n), 4),
            "marketCap": cap,
            "_ingest_ts": ingest,
            "open": nulls_f, "high": nulls_f, "low": nulls_f, "close": nulls_f,
            "volume": nulls_i,
            "timestamp": pa.nulls(n, pa.timestamp("us", tz="UTC")),
        },
        schema=FEED_SCHEMA,
    )
    yfin = pa.table(
        {
            "_feed": pa.array(["yfinance"] * n),
            "symbol": np.char.add(rep, ".SA"),
            "longName": nulls_s,
            "regularMarketPrice": nulls_f,
            "regularMarketChange": nulls_f,
            "regularMarketChangePercent": nulls_f,
            "marketCap": nulls_i,
            "_ingest_ts": nulls_i,
            "open": opn,
            "high": np.round(close * 1.02, 2),
            "low": np.round(close * 0.98, 2),
            "close": close,
            "volume": rng.integers(1000, 10**7, n).astype(np.int64),
            "timestamp": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
        },
        schema=FEED_SCHEMA,
    )
    t = pa.concat_tables([brapi, yfin])
    # shuffle rows so "latest" is never file order
    t = t.take(pa.array(rng.permutation(2 * n)))
    pq.write_table(t, path)
    if mtime is not None:
        # the file source orders micro-batches by modification time
        os.utime(path, (mtime, mtime))
    return 2 * n
