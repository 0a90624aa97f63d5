"""The E2 warehouse commit (``streaming.pipeline.e2_micro_batch``):
equal to the full-replace formula after every batch, replay-safe, with
a bounded file count, and accepted by the benchmark's own E2 oracle.

The benchmark's generators and checker (``perfbench/gen.py``,
``perfbench/checks.py``) are imported read-only, so a layout or metric
drift that the benchmark would reject fails here first."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from b3_analytics_engine_spark.sinks.files import data_files, table_state
from b3_analytics_engine_spark.streaming import pipeline as P

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "perfbench"))
import checks  # noqa: E402
import gen  # noqa: E402

T0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
DENSE = gen.symbols(5)  # 30 seeded snapshots each
ALL = gen.symbols(7)  # S0005: 3 seeded rows; S0006: not seeded


def _seed(path: str, per_symbol: int = 30, thin: int = 1) -> None:
    """The benchmark's seeded warehouse at 6 symbols × ``per_symbol``
    snapshots, S0005 cut to its 3 oldest rows (a symbol that expiry
    empties) and S0004 to every ``thin``-th row (a symbol whose first
    surviving rows reach past the expired ones)."""
    rng = np.random.default_rng(11)
    gen.seed_warehouse(path, rng, 6, per_symbol, T0)
    f = os.path.join(path, "part-seed.parquet")
    t = pq.read_table(f).to_pandas()
    k = t.groupby("symbol").cumcount()
    t = t[((t["symbol"] != "S0005") | (k < 3)) & ((t["symbol"] != "S0004") | (k % thin == 0))]
    pq.write_table(pa.Table.from_pandas(t, gen.WAREHOUSE_SCHEMA, preserve_index=False), f)


def _batch(spark, path: str, k: int, keep: list[str]):
    gen.feed_file(path, np.random.default_rng(100 + k), 7, k)
    df = spark.read.parquet(path)
    return df.filter(F.regexp_replace("symbol", r"\.SA$", "").isin(keep))


def _rows(spark, path: str, cols: list[str]) -> list[tuple]:
    return sorted(tuple(r) for r in spark.read.parquet(path).select(*cols).collect())


def _reference(spark, prev: str, batch, now, out: str) -> None:
    """Today's full-replace formula: process_micro_batch over the
    cutoff-filtered table."""
    hist = spark.read.parquet(prev).filter(
        F.col("date") >= F.lit(now - dt.timedelta(days=40))
    )
    P.process_micro_batch(batch, hist, clock=F.lit(now)).write.parquet(out)


def test_e2_commit_equals_full_replace_across_expiry(spark, tmp_path, monkeypatch):
    """A replay whose clock crosses the 40-day expiry three times, folds
    the appended files, loses its tail and goes back once (a batch not
    newer than the table): after every batch the table is row-for-row,
    bit-for-bit the full-replace formula's, and the batch touched the
    files its kind allows. The first expiry after a whole rewrite
    rewrites it into date slices; the next touches only the oldest."""
    monkeypatch.setattr(P, "FOLD_FILES", 4)
    wh, ref = str(tmp_path / "wh"), str(tmp_path / "ref0")
    _seed(wh, 300, thin=4)
    _seed(ref, 300, thin=4)
    m, d = dt.timedelta(minutes=1), dt.timedelta(days=1)
    plan = [  # (now, symbols, kind)
        (T0 + m, ALL, "whole"),  # no tail yet
        (T0 + 2 * m, DENSE, "append"),
        (T0 + 3 * m, DENSE, "append"),
        (T0 + 2 * d, ALL, "expiry"),  # rewrites the whole-rewrite files
        (T0 + 2 * d + 60 * m, DENSE, "fold"),
        (T0 + 12 * d, ALL, "slices"),  # only the oldest slices
        (T0 + 12 * d + 5 * m, ALL, "append"),
        (T0 + 30 * m, ALL, "whole"),  # no tail: written by other code
        (T0 + d, DENSE, "whole"),  # older than the table's newest rows
        (T0 + 12 * d + 10 * m, ALL, "append"),
    ]
    for k, (now, syms, kind) in enumerate(plan):
        batch = _batch(spark, str(tmp_path / f"feed{k}.parquet"), k, syms)
        before = table_state(spark, wh)
        before = {} if before is None else before["files"]
        if k == 7:
            shutil.rmtree(os.path.join(wh, "_tail"))
        P.e2_micro_batch(batch, k, spark, wh, now=now)
        if k == 0:  # about five slices out of the seeded window
            monkeypatch.setattr(P, "SLICE_BYTES", sum(data_files(spark, wh).values()) // 5)
        if k == 4:  # the next expiry rewrites its slices as one file
            monkeypatch.setattr(P, "SLICE_BYTES", 1 << 30)
        after = table_state(spark, wh)["files"]
        assert sorted(after) == list(data_files(spark, wh)), k
        nxt = str(tmp_path / f"ref{k + 1}")
        _reference(spark, ref, batch, now, nxt)
        ref = nxt
        cols = spark.read.parquet(ref).columns
        got, want = _rows(spark, wh, cols), _rows(spark, ref, cols)
        assert len(got) == len(want), f"batch {k}: {len(got)} rows != {len(want)}"
        bad = sum(a != b for a, b in zip(got, want))
        assert bad == 0, f"batch {k} ({kind}): {bad} rows differ from full replace"
        assert sum(v[3] for v in after.values()) < P.FOLD_FILES, f"batch {k}: {after}"
        kept, gone = set(before) & set(after), set(before) - set(after)
        added = set(after) - set(before)
        if kind in ("expiry", "slices"):  # the batch keeps a file of its own
            mine = [f for f in added if after[f][3]]
            assert len(mine) == 1 and after[mine[0]][0] == P._us(now), k
        if kind == "append":
            assert not gone and len(added) == 1, k
        elif kind == "fold":
            assert len(gone) == P.FOLD_FILES - 1 and len(added) == 1, k
            assert all(before[f][3] for f in gone), k
        elif kind == "expiry":
            assert gone and all(not before[f][3] for f in gone), k
            assert sum(not after[f][3] for f in added) >= 3, k  # the slices
        elif kind == "slices":
            assert gone and any(not before[f][3] for f in kept), k
        else:
            assert not kept, k
        assert not os.path.exists(os.path.join(wh, "_staging"))


def test_e2_fold_counts_only_appended_files(spark, tmp_path, monkeypatch):
    """A whole rewrite that leaves more than ``FOLD_FILES`` files (one
    per post-shuffle partition, as on a many-core host) does not make
    every later batch fold: a fold waits for ``FOLD_FILES`` appended
    files and merges only those."""
    monkeypatch.setattr(P, "FOLD_FILES", 3)
    real = P.process_micro_batch
    monkeypatch.setattr(
        P, "process_micro_batch", lambda *a, **kw: real(*a, **kw).repartition(6)
    )
    wh = str(tmp_path / "wh")
    _seed(wh)
    whole = None
    for k in range(4):
        batch = _batch(spark, str(tmp_path / f"feed{k}.parquet"), k, DENSE)
        before = set(data_files(spark, wh))
        P.e2_micro_batch(batch, k, spark, wh, now=T0 + dt.timedelta(minutes=k + 1))
        after = set(data_files(spark, wh))
        if k == 0:
            whole = after
            assert len(whole) > P.FOLD_FILES
        elif k < 3:
            assert before <= after and len(after - before) == 1, k
        else:  # the two appended files and the batch fold into one
            assert before - after == before - whole and len(before - whole) == 2
            assert len(after - before) == 1


def _one_snapshot_each(rows: list[tuple], cols: list[str]) -> None:
    i, j = cols.index("symbol"), cols.index("date")
    keys = [(r[i], r[j]) for r in rows]
    assert len(keys) == len(set(keys))


def test_e2_replay_leaves_one_snapshot_per_epoch(spark, tmp_path):
    """A replay of the last committed epoch (the crash between the
    warehouse commit and the checkpoint commit) with the same or a
    later clock equals that epoch run once at the replay's clock — for
    the first batch's whole-window rewrite and for an append. A new
    stream's different batch under the same epoch id is not a replay."""
    wh = str(tmp_path / "wh")
    _seed(wh)
    seed = str(tmp_path / "seed")
    _seed(seed)
    b0 = _batch(spark, str(tmp_path / "f0.parquet"), 0, ALL)
    b1 = _batch(spark, str(tmp_path / "f1.parquet"), 1, DENSE)
    b2 = _batch(spark, str(tmp_path / "f2.parquet"), 2, ALL[2:])
    m = dt.timedelta(minutes=1)
    cols = spark.read.parquet(seed).columns

    P.e2_micro_batch(b0, 0, spark, wh, now=T0 + m)
    once = _rows(spark, wh, cols)
    P.e2_micro_batch(b0, 0, spark, wh, now=T0 + m)  # same clock
    assert _rows(spark, wh, cols) == once
    P.e2_micro_batch(b0, 0, spark, wh, now=T0 + 2 * m)  # later clock
    _reference(spark, seed, b0, T0 + 2 * m, str(tmp_path / "r0"))
    got = _rows(spark, wh, cols)
    assert got == _rows(spark, str(tmp_path / "r0"), cols)
    _one_snapshot_each(got, cols)

    P.e2_micro_batch(b1, 1, spark, wh, now=T0 + 3 * m)  # append
    P.e2_micro_batch(b1, 1, spark, wh, now=T0 + 4 * m)  # its replay
    _reference(spark, str(tmp_path / "r0"), b1, T0 + 4 * m, str(tmp_path / "r1"))
    got = _rows(spark, wh, cols)
    assert got == _rows(spark, str(tmp_path / "r1"), cols)
    dates = {r[cols.index("date")] for r in got}
    assert (T0 + 3 * m).replace(tzinfo=None) not in dates

    # same epoch id, other rows: a fresh checkpoint, not a replay
    P.e2_micro_batch(b2, 1, spark, wh, now=T0 + 5 * m)
    _reference(spark, str(tmp_path / "r1"), b2, T0 + 5 * m, str(tmp_path / "r2"))
    assert _rows(spark, wh, cols) == _rows(spark, str(tmp_path / "r2"), cols)


def test_start_incremental_passes_benchmark_oracle(spark, tmp_path):
    """The benchmark's E2 set-up at 1/100 scale: a seeded 20 × 100
    warehouse with stale metrics, four feed files through a real
    ``start_incremental`` stream, judged by ``checks.check_e2``."""
    from b3_analytics_engine_spark.sources.files import stream_parquet_dir

    rng = np.random.default_rng(5)
    wh, watched = str(tmp_path / "wh"), str(tmp_path / "feeds")
    os.makedirs(watched)
    gen.seed_warehouse(wh, rng, 20, 100, dt.datetime.now(dt.timezone.utc))
    seed = pq.read_table(wh).to_pandas()
    paths = []
    for k in range(4):
        p = os.path.join(watched, f"feed-{k}.parquet")
        gen.feed_file(p, rng, 20, k, mtime=time.time() - 3600 + k)
        paths.append(p)
    q = P.start_incremental(
        spark,
        stream_parquet_dir(
            spark, watched, spark.read.parquet(paths[0]).schema, max_files_per_trigger=1
        ),
        warehouse_path=wh,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    assert q.exception() is None
    feeds = [pq.read_table(p).to_pandas() for p in paths]
    assert checks.check_e2(seed, feeds, pq.read_table(wh).to_pandas()) == []
    # the first batch recomputed the stale window; the next three
    # each appended one file
    names = data_files(spark, wh)
    for e in (1, 2, 3):
        assert sum(n.startswith(f"epoch-{e}-") for n in names) == 1, names


_FEED = (
    "_feed string, symbol string, longName string, regularMarketPrice double, "
    "regularMarketChange double, regularMarketChangePercent double, "
    "marketCap bigint, _ingest_ts bigint, open double, high double, low double, "
    "close double, volume bigint, timestamp timestamp"
)


def _brapi(sym, ingest, feed="brapi"):
    v = 0 if ingest is None else ingest
    return (feed, sym, f"{sym} SA", 10.0 + v, 0.5 + v, 0.1 * v, 1000 * (v + 1), ingest,
            None, None, None, None, None, None)


def _yfin(sym, minute, opn=9.0, close=None, feed="yfinance"):
    close = 10.0 + minute if close is None else close
    ts = None if minute is None else T0 + dt.timedelta(minutes=minute)
    return (feed, sym, None, None, None, None, None, None,
            opn, close + 1, close - 1, close, 100 + (minute or 0), ts)


def test_e2_batch_statement_reduces_feeds_as_batch_rows(spark):
    """The single statement's feed reduction against the two-feed
    reference (``batch_rows`` through ``process_micro_batch``, no
    history) on feeds with: a symbol on one feed only, a symbol whose
    brapi ``_ingest_ts`` values are all null, raw and ``.SA`` yfinance
    rows of one symbol, a ``.SA`` brapi symbol, null and unknown
    ``_feed`` values, a null symbol, rows that carry the other feed's
    columns too, and ``open == 0``. Each feed runs
    alone and all of them together; the statement's tail rows are its
    new rows."""
    feeds = {
        "one feed only": (
            [_brapi("A1", 1), _yfin("A2", 1), _brapi("OK", 2), _yfin("OK", 2)], {"OK"}
        ),
        "null ingest_ts": (
            [_brapi("B1", None), _brapi("B1", None), _yfin("B1", 3),
             _brapi("B2", None), _brapi("B2", 4), _brapi("B2", 2), _yfin("B2", 1)],
            {"B2"},  # B1's latest brapi row is undefined: no marketCap
        ),
        ".SA suffixes": (
            [_brapi("C1", 1), _yfin("C1", 1), _yfin("C1.SA", 5), _yfin("C1", 3),
             _brapi("C2", 1), _yfin("C2.SA", 2), _yfin("C2", 7),
             _brapi("C3.SA", 1), _yfin("C3", 1), _yfin("C3.SA", 2)],
            {"C1", "C2"},
        ),
        "null and unknown feed": (
            [_brapi("D1", 1), _yfin("D1", 1, feed=None),
             _brapi("D2", 1), _yfin("D2", 1), _brapi("D2", 9, feed="bloomberg"),
             _yfin("D2", 9, feed="bloomberg"), _brapi("D2", 5, feed=None),
             _brapi(None, 1), _yfin(None, 1)],
            {"D2"},
        ),
        "other feed's columns set": (
            [_brapi("F1", 1), _yfin("F1", 1),
             _brapi("F1", 1)[:8] + _yfin("F1", 9)[8:],
             _yfin("F1", 1)[:2] + _brapi("F1", 9)[2:8] + _yfin("F1", 2)[8:]],
            {"F1"},
        ),
        "open == 0": (
            [_brapi("E1", 1), _yfin("E1", 1, opn=0.0), _brapi("E2", 1),
             _yfin("E2", 2, opn=None), _brapi("E3", 1), _yfin("E3", 3, close=0.0)],
            {"E1", "E2", "E3"},
        ),
    }
    feeds["all together"] = (
        [r for rows, _ in feeds.values() for r in rows],
        set().union(*(s for _, s in feeds.values())),
    )
    now = T0 + dt.timedelta(hours=1)
    empty_tail = spark.createDataFrame([], "symbol string, date timestamp, close double")
    for name, (rows, kept) in feeds.items():
        feed = spark.createDataFrame(rows, _FEED)
        want = P.process_micro_batch(feed, None, clock=F.lit(now))
        got = P._batch_statement(feed, empty_tail, now)
        data = got.filter("_stage = 'data'").select(*want.columns)
        assert {r.symbol for r in want.collect()} == kept, name
        assert sorted(map(tuple, data.collect())) == sorted(map(tuple, want.collect())), name
        tail = got.filter("_stage = 'tail'").select("symbol", "date", "close")
        assert sorted(map(tuple, tail.collect())) == sorted(
            map(tuple, want.select("symbol", "date", "close").collect())
        ), name


def test_e2_append_runs_three_jobs_and_scans_the_feed_once(spark, tmp_path):
    """A plain append is one statement and one write: at most three
    Spark jobs (the feed reduction's exchange, the window's exchange
    and the write), reading each feed row and each tail row once."""
    wh = str(tmp_path / "wh")
    _seed(wh)
    m = dt.timedelta(minutes=1)
    P.e2_micro_batch(_batch(spark, str(tmp_path / "f0.parquet"), 0, ALL), 0, spark, wh, now=T0 + m)
    feed = str(tmp_path / "f1.parquet")
    batch = _batch(spark, feed, 1, ALL)
    expect_rows = pq.read_metadata(feed).num_rows + pq.read_table(os.path.join(wh, "_tail")).num_rows

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    group = f"e2-append-{tmp_path.name}"
    sc.setJobGroup(group, "one append batch")
    try:
        P.e2_micro_batch(batch, 1, spark, wh, now=T0 + 2 * m)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    bus.waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    stages = {s for j in jobs for s in sc.statusTracker().getJobInfo(j).stageIds}
    store = sc._jsc.sc().statusStore()
    listed = store.stageList(
        None, False, False, sc._gateway.new_array(spark._jvm.double, 0),
        spark._jvm.java.util.ArrayList(),
    )
    read = sum(
        listed.apply(i).inputRecords()
        for i in range(listed.size())
        if listed.apply(i).stageId() in stages
    )
    assert len(jobs) <= 3, f"{len(jobs)} Spark jobs"
    assert read == expect_rows, f"read {read} rows, feed + tail hold {expect_rows}"
    assert len(data_files(spark, wh)) == 2  # the seed and the batch
