"""Unit tests for source/sink adapters that have no live backend in
this environment: REST payload parsing (S7/S8), the Kafka value-parse
path (F6 over the envelope), the polling CDC watermark (S4/T7), and
JSON zone round-trips (K2)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from b3_analytics_engine_spark.schemas import EVENT_PROPS
from b3_analytics_engine_spark.sinks.files import write_json_zone
from b3_analytics_engine_spark.sinks.kafka import to_kafka_records
from b3_analytics_engine_spark.sources.files import read_json
from b3_analytics_engine_spark.sources.jdbc import PollingWatermark
from b3_analytics_engine_spark.sources.kafka import parse_value
from b3_analytics_engine_spark.sources.rest import (
    fetch_yfinance_bars,
    quotes_from_payloads,
)

from conftest import local_df


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="b3src_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_brapi_payload_parse(spark):
    payloads = [
        {"results": [{"symbol": "PETR4", "longName": "Petrobras PN",
                      "regularMarketPrice": 36.5, "regularMarketChange": 1.0,
                      "regularMarketChangePercent": 2.8,
                      "marketCap": 505000000000, "extraIgnored": "x"}]},
        {"results": []},  # empty results → null row (try_element_at)
        {"unexpected": "shape"},  # malformed → nulls, not a crash
    ]
    rows = quotes_from_payloads(spark, payloads).collect()
    assert len(rows) == 3
    assert rows[0]["symbol"] == "PETR4" and rows[0]["marketCap"] == 505000000000
    assert rows[1]["symbol"] is None and rows[2]["symbol"] is None


def test_yfinance_fetch_adapter(spark):
    fixtures = {
        "PETR4.SA": {"symbol": "PETR4.SA", "open": 35.8, "high": 36.9,
                     "low": 35.5, "close": 36.5, "volume": 41000000,
                     "timestamp": "2024-05-01 11:59:00"},
    }
    df = fetch_yfinance_bars(spark, ["PETR4.SA"], fixtures.__getitem__)
    r = df.collect()[0]
    assert r["close"] == 36.5 and str(r["timestamp"]) == "2024-05-01 11:59:00"


def test_kafka_value_roundtrip(spark):
    """K5 envelope → S2 parse: to_kafka_records then parse_value must
    recover the original typed columns."""
    src = local_df(spark, 
        [Row(event_id=1, user_id=7, k=42), Row(event_id=2, user_id=8, k=None)]
    )
    envelope = to_kafka_records(src, key_col="user_id").withColumn(
        "key", F.col("key").cast("binary")
    ).withColumn("value", F.col("value").cast("binary")).withColumn(
        "timestamp", F.current_timestamp()
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("k", T.LongType()),
        ]
    )
    parsed = parse_value(envelope, schema)
    got = {r["event_id"]: (r["_key"], r["k"]) for r in parsed.collect()}
    assert got == {1: ("7", 42), 2: ("8", None)}


def test_polling_watermark_advances(spark):
    source = local_df(spark, 
        [Row(id=i, ts=f"2024-05-01 10:0{i}:00") for i in range(5)]
    ).withColumn("ts", F.to_timestamp("ts"))

    def read_fn(last_ts: str):
        return source.filter(F.col("ts") > F.lit(last_ts).cast("timestamp"))

    wm = PollingWatermark("2024-05-01 10:01:00")
    b1 = wm.poll(read_fn, "ts")
    assert b1.count() == 3  # ids 2,3,4
    assert wm.value == "2024-05-01 10:04:00"
    b2 = wm.poll(read_fn, "ts")
    assert b2.count() == 0  # watermark advanced: nothing re-sent
    assert wm.value == "2024-05-01 10:04:00"  # unchanged on empty poll


def test_incremental_query_rejects_non_iso_watermark():
    from b3_analytics_engine_spark.sources.jdbc import incremental_query

    q = incremental_query("quotes", "ts", "2024-05-01 10:01:00")
    assert "WHERE ts > '2024-05-01 10:01:00'" in q
    for bad in ("2024-05-01'; DROP TABLE quotes; --", "now()", "May 1 2024"):
        with pytest.raises(ValueError):
            incremental_query("quotes", "ts", bad)


def test_replace_directory_swaps_and_cleans_stale_old(spark, tmp_path):
    from b3_analytics_engine_spark.sinks.files import replace_directory

    live, tmp = str(tmp_path / "t"), str(tmp_path / "t__staging")
    spark.range(5).write.parquet(live)
    spark.range(10, 13).write.parquet(tmp)
    # simulate a leftover from a crash after a prior swap
    (tmp_path / "t__old").mkdir()
    (tmp_path / "t__old" / "junk").write_text("x")

    replace_directory(spark, tmp, live)
    got = sorted(r["id"] for r in spark.read.parquet(live).collect())
    assert got == [10, 11, 12]
    assert not (tmp_path / "t__old").exists()
    assert not (tmp_path / "t__staging").exists()


def test_replace_directory_restores_midswap_parked_table(spark, tmp_path):
    """A crash BETWEEN a prior swap's two renames leaves the ONLY copy
    of the table parked at ``__old`` with the live dir missing — a
    state the pre-fix sweep deleted as a stale leftover, destroying
    the table. The swap must restore it first (then re-park it
    normally), and ``recover_parked_directory`` is the read-path form
    of the same recovery."""
    import os

    from b3_analytics_engine_spark.sinks.files import (
        recover_parked_directory,
        replace_directory,
    )

    live, tmp = str(tmp_path / "t"), str(tmp_path / "t__staging")
    spark.range(5).write.parquet(live)
    os.rename(live, live + "__old")  # mid-swap crash state

    # read-path recovery: restore + report, idempotent second call
    assert recover_parked_directory(spark, live) is True
    got = sorted(r["id"] for r in spark.read.parquet(live).collect())
    assert got == [0, 1, 2, 3, 4]
    assert recover_parked_directory(spark, live) is False

    # swap-path recovery: parked again, the next swap restores it
    # (never deletes — every crash point inside THIS swap must still
    # hold a complete copy) and installs the new table
    os.rename(live, live + "__old")
    spark.range(10, 13).write.parquet(tmp)
    replace_directory(spark, tmp, live)
    got = sorted(r["id"] for r in spark.read.parquet(live).collect())
    assert got == [10, 11, 12]
    assert not (tmp_path / "t__old").exists()
    assert not (tmp_path / "t__staging").exists()


def test_overwrite_warehouse_replaces_only_written_partitions(spark, tmp_path):
    """K3 dynamic-partition contract: overwriting ONE date partition
    must leave the others intact. The bounded-re-statement behavior
    depends entirely on session.py setting
    ``partitionOverwriteMode=dynamic`` — under Spark's ``static``
    default this overwrite would silently WIPE the whole warehouse,
    so this test guards that config line against accidental loss."""
    from b3_analytics_engine_spark.sinks.files import overwrite_warehouse

    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower()
        == "dynamic"
    )
    path = str(tmp_path / "warehouse")
    two_days = local_df(spark, 
        [("2024-01-01", "PETR4", 1.0), ("2024-01-02", "PETR4", 2.0)],
        "date string, symbol string, close double",
    )
    overwrite_warehouse(two_days, path, partition_cols=["date"])
    restated = local_df(spark, 
        [("2024-01-02", "PETR4", 9.0)], "date string, symbol string, close double"
    )
    overwrite_warehouse(restated, path, partition_cols=["date"])
    got = sorted(
        # partition-column type inference reads the dir name back as a
        # DATE — normalize to ISO text for the comparison
        (str(r["date"]), r["close"])
        for r in spark.read.parquet(path).collect()
    )
    # day 1 survives untouched; day 2 carries the restated value
    assert got == [("2024-01-01", 1.0), ("2024-01-02", 9.0)]


def test_json_zone_roundtrip(spark, tmpdir):
    df = local_df(spark, 
        [Row(symbol="PETR4", v=1.5), Row(symbol="VALE3", v=2.5)]
    )
    write_json_zone(df, f"{tmpdir}/zone", partition_cols=["symbol"])
    back = read_json(spark, f"{tmpdir}/zone", schema=None)
    assert {(r["symbol"], r["v"]) for r in back.collect()} == {
        ("PETR4", 1.5),
        ("VALE3", 2.5),
    }


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from b3_analytics_engine_spark.sinks.files import compact_parquet
    from b3_analytics_engine_spark.tables import SMOKE_SF_DIR, load_table

    path = str(tmp_path / "frag")
    ev = load_table(spark, SMOKE_SF_DIR, "events")
    ev.repartition(64).write.parquet(path)  # 64 tiny files

    import glob

    before = len(glob.glob(f"{path}/*.parquet"))
    assert before >= 32
    rows_before = sorted(tuple(r) for r in spark.read.parquet(path).collect())

    compact_parquet(spark, path, target_file_bytes=512 * 1024 * 1024)
    after = len(glob.glob(f"{path}/*.parquet"))
    assert after < before and after <= 2
    rows_after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert rows_after == rows_before


def test_compact_parquet_retry_on_midswap_parked_table(spark, tmp_path):
    """A compaction killed between its swap's two renames parks the
    ONLY copy of the table at ``__old``; the retry must restore it
    (entry-point ``recover_parked_directory``) instead of failing its
    size probe on the missing path — and must compact the restored
    rows, not an empty table."""
    import os

    from b3_analytics_engine_spark.sinks.files import compact_parquet

    path = str(tmp_path / "frag")
    spark.range(1000).repartition(16).write.parquet(path)
    rows = sorted(r["id"] for r in spark.read.parquet(path).collect())

    os.rename(path, path + "__old")  # mid-swap crash state
    compact_parquet(spark, path, target_file_bytes=512 * 1024 * 1024)
    assert sorted(r["id"] for r in spark.read.parquet(path).collect()) == rows
    assert not os.path.exists(path + "__old")


def test_write_training_shards_matches_manifest(spark, tmp_path):
    """The physical shard writer must realize exactly the layout the
    shard_assignment manifest describes: same shard membership, pos
    dense within each shard directory, and exactly one shuffle in the
    plan (the window rides the repartition's clustering)."""
    from b3_analytics_engine_spark.operators.curation import shard_assignment
    from b3_analytics_engine_spark.sinks.files import write_training_shards
    from b3_analytics_engine_spark.tables import SMOKE_SF_DIR, load_table

    d = load_table(spark, SMOKE_SF_DIR, "documents")
    path = str(tmp_path / "shards")
    write_training_shards(d, path, n_shards=8)

    back = spark.read.parquet(path)
    manifest = {
        r["doc_id"]: (r["shard"], r["pos"])
        for r in shard_assignment(d, n_shards=8).collect()
    }
    got = {
        r["doc_id"]: (r["shard"], r["pos"])
        for r in back.select("doc_id", "shard", "pos").collect()
    }
    assert got == manifest
    # partition-pruned single-shard read sees dense, sorted positions
    one = back.filter(F.col("shard") == 3).select("pos").collect()
    assert sorted(r["pos"] for r in one) == list(range(len(one)))
    # single-Exchange plan: the positional window rides the
    # repartition's clustering instead of adding its own shuffle
    import re

    from b3_analytics_engine_spark.plans import physical_plan
    from b3_analytics_engine_spark.sinks.files import sharded_frame

    plan = physical_plan(sharded_frame(d, n_shards=8))
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan


def test_orc_round_trip(spark, tmp_path):
    """ORC is the second columnar format Spark ships natively — the
    lake layer must round-trip it with schema and values intact
    (pushdown/pruning behave like Parquet; same partition-column
    mechanics)."""
    from b3_analytics_engine_spark.tables import SMOKE_SF_DIR, load_table

    ev = load_table(spark, SMOKE_SF_DIR, "events")
    path = str(tmp_path / "orc")
    ev.write.orc(path)
    back = spark.read.orc(path)
    assert back.schema == ev.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, ev.collect()))


def test_python_datasource_quote_feed(spark):
    """Spark 4 Python Data Source: one input partition per ticker,
    executor-side fetch, deterministic fixture rows."""
    from b3_analytics_engine_spark.sources.pyds import register_quote_feed

    register_quote_feed(spark)
    df = (
        spark.read.format("quote_feed")
        .option("tickers", "PETR4,VALE3,ITUB4,BBDC4")
        .option("as_of", "2024-01-30T12:00:00")
        .load()
    )
    assert df.rdd.getNumPartitions() == 4  # partition-per-ticker plan
    rows = {r["symbol"]: r for r in df.collect()}
    assert set(rows) == {"PETR4", "VALE3", "ITUB4", "BBDC4"}
    for r in rows.values():
        assert r["low"] <= min(r["open"], r["close"])
        assert r["high"] >= max(r["open"], r["close"])
        assert r["volume"] >= 0 and r["ts"] is not None
    # deterministic across reads
    again = {r["symbol"]: r for r in (
        spark.read.format("quote_feed")
        .option("tickers", "PETR4,VALE3,ITUB4,BBDC4")
        .option("as_of", "2024-01-30T12:00:00")
        .load().collect()
    )}
    assert {k: tuple(v) for k, v in rows.items()} == {
        k: tuple(v) for k, v in again.items()
    }


def test_python_datasource_quote_feed_stream(spark, tmp_path):
    """Streaming side of the quote feed (SimpleDataSourceStreamReader):
    each micro-batch is one poll tick with one row per ticker; rows are
    a pure function of (ticker, tick) so the replay path regenerates
    identical data."""
    import time

    from b3_analytics_engine_spark.sources.pyds import (
        QuoteFeedStreamReader,
        register_quote_feed,
    )

    register_quote_feed(spark)
    q = (
        spark.readStream.format("quote_feed")
        .option("tickers", "PETR4,VALE3")
        .option("as_of", "2024-01-30T12:00:00")
        .option("tick_seconds", "60")
        .load()
        .writeStream.format("memory")
        .queryName("quote_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            if spark.sql("SELECT count(*) FROM quote_stream").first()[0] >= 6:
                break
            time.sleep(1)
        rows = spark.sql("SELECT * FROM quote_stream").collect()
    finally:
        q.stop()
    assert len(rows) >= 6  # ≥3 ticks × 2 tickers

    # per-tick integrity: both tickers present at every collected ts
    by_ts: dict = {}
    for r in rows:
        by_ts.setdefault(r["ts"], set()).add(r["symbol"])
    full_ticks = [ts for ts, syms in by_ts.items() if syms == {"PETR4", "VALE3"}]
    assert len(full_ticks) >= 3

    # replay determinism: the same ticks re-read offline are identical
    reader = QuoteFeedStreamReader(
        {"tickers": "PETR4,VALE3", "as_of": "2024-01-30T12:00:00",
         "tick_seconds": "60"}
    )
    regen = {
        (row[0], row[6].replace(tzinfo=None)): row
        for row in reader.readBetweenOffsets({"tick": 0}, {"tick": 10})
    }
    for r in rows:
        key = (r["symbol"], r["ts"])
        assert key in regen
        assert tuple(r)[:6] == regen[key][:6]


def test_read_media_dir_feeds_feature_pipeline(spark, tmp_path):
    """binaryFile ingest → mapInPandas featurize: ids stable, bytes
    opaque, sha256 matches the on-disk content."""
    import hashlib

    from b3_analytics_engine_spark.operators.multimodal import extract_features
    from b3_analytics_engine_spark.sources.files import read_media_dir

    payloads = {
        "a.png": b"\x89PNG\r\n" + bytes(range(200)),
        "b.jpg": b"\xff\xd8\xff" + b"jpegdata" * 40,
        "c.wav": b"RIFF" + bytes(100),
        "d.bin": b"\x00\x01\x02",
    }
    for name, blob in payloads.items():
        (tmp_path / name).write_bytes(blob)

    media = read_media_dir(spark, str(tmp_path))
    rows = {r["source_path"].rsplit("/", 1)[-1]: r for r in media.collect()}
    assert set(rows) == set(payloads)
    assert rows["a.png"]["media_type"] == "image"
    assert rows["c.wav"]["media_type"] == "audio"
    assert rows["d.bin"]["media_type"] == "binary"
    assert rows["b.jpg"]["payload"] == payloads["b.jpg"]
    assert len({r["media_id"] for r in rows.values()}) == 4  # stable+unique

    feats = {
        r["media_id"]: r
    for r in extract_features(
            media.select("media_id", "media_type", "payload")
        ).collect()
    }
    for name, blob in payloads.items():
        f = feats[rows[name]["media_id"]]
        assert f["sha256"] == hashlib.sha256(blob).hexdigest()
        assert f["n_bytes"] == len(blob)
        assert len(f["feat"]) == 8


def test_jdbc_adapters_round_trip_on_embedded_derby(spark):
    """The JDBC source and sink against a real database: embedded
    in-memory Derby, whose jars ship with pyspark. ``write_replace``
    then ``read_table`` (plain and range-partitioned) round-trip the
    rows, and ``PollingWatermark`` over ``incremental_query`` returns
    only rows newer than the watermark and advances it. Derby's
    dialect quotes column names on CREATE TABLE, so the columns are
    upper case to match the unquoted names in the pushdown SQL."""
    import datetime as dt
    import uuid

    from b3_analytics_engine_spark.sinks.jdbc import write_replace
    from b3_analytics_engine_spark.sources.jdbc import (
        incremental_query,
        read_table,
    )

    url = f"jdbc:derby:memory:b3_{uuid.uuid4().hex};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    schema = "ID INT, SYMBOL STRING, PRICE DOUBLE, TS TIMESTAMP"
    ts = [dt.datetime(2024, 5, 1, 10, m) for m in range(1, 6)]
    rows = [(i + 1, f"S{i}", 10.0 + i, ts[i]) for i in range(4)]
    write_replace(spark.createDataFrame(rows, schema), url, "QUOTES", props)

    def as_tuples(df):
        return sorted(tuple(r) for r in df.collect())

    assert as_tuples(read_table(spark, url, "QUOTES", props)) == rows
    parted = read_table(spark, url, "QUOTES", props, partition_column="ID",
                        lower_bound=1, upper_bound=5, num_partitions=2)
    assert parted.rdd.getNumPartitions() == 2
    assert as_tuples(parted) == rows

    wm = PollingWatermark("2024-05-01 10:02:00")

    def read_fn(last_ts):
        q = incremental_query("QUOTES", "TS", last_ts)
        return read_table(spark, url, q, props)

    assert as_tuples(wm.poll(read_fn, "TS")) == rows[2:]
    assert wm.value == "2024-05-01 10:04:00"
    new = [(5, "S4", 14.0, ts[4])]
    spark.createDataFrame(new, schema).write.format("jdbc").mode(
        "append").option("url", url).option("dbtable", "QUOTES").options(
        **props).save()
    assert as_tuples(wm.poll(read_fn, "TS")) == new
    assert wm.value == "2024-05-01 10:05:00"
    assert wm.poll(read_fn, "TS").count() == 0
