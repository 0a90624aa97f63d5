"""Tests for the scale-path operators: salted skew join (row-identical
to the plain join), stateful streaming EWMA (stream ≡ batch
recurrence across micro-batch boundaries), IVF ANN recall."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from b3_analytics_engine_spark.operators.joins import salted_join
from b3_analytics_engine_spark.operators.similarity import (
    cosine_ann_ivf,
    cosine_topk_bruteforce,
)
from b3_analytics_engine_spark.sources.files import stream_parquet_dir
from b3_analytics_engine_spark.streaming.stateful import ewma_batch, ewma_stream
from b3_analytics_engine_spark.tables import ORACLE_SF_DIR, SMOKE_SF_DIR, load_table


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="b3scale_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_salted_join_equals_plain_join(spark):
    ev = load_table(spark, SMOKE_SF_DIR, "events")
    dim = (
        ev.select("user_id").distinct().withColumn("tag", F.col("user_id") * 10)
    )
    plain = ev.join(dim, "user_id").select("event_id", "tag")
    salted = salted_join(ev, dim, "user_id", left_unique_col="event_id").select(
        "event_id", "tag"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_keeps_unmatched(spark):
    ev = load_table(spark, SMOKE_SF_DIR, "events")
    dim = (
        ev.select("user_id")
        .distinct()
        .filter(F.col("user_id") < 5)
        .withColumn("tag", F.col("user_id") * 10)
    )
    plain = ev.join(dim, "user_id", "left").select("event_id", "tag")
    salted = salted_join(
        ev, dim, "user_id", left_unique_col="event_id", how="left"
    ).select("event_id", "tag")
    assert sorted(map(tuple, plain.collect()), key=repr) == sorted(
        map(tuple, salted.collect()), key=repr
    )


def test_ewma_stream_equals_batch(spark, tmpdir):
    ev = load_table(spark, SMOKE_SF_DIR, "events").select("user_id", "ts", "value")
    # split by TIME so state carries forward across micro-batches
    cut = ev.agg(F.percentile_approx("ts", 0.5).alias("m")).collect()[0]["m"]
    src = f"{tmpdir}/src"
    ev.filter(F.col("ts") <= cut).coalesce(1).write.parquet(f"{src}/b1.parquet")
    ev.filter(F.col("ts") > cut).coalesce(1).write.parquet(f"{src}/b2.parquet")

    stream = stream_parquet_dir(spark, f"{src}/*", ev.schema)
    q = (
        ewma_stream(stream, alpha=0.2)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ewma_out")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["ts"]): r["ewma"]
        for r in spark.sql("SELECT * FROM ewma_out").collect()
    }
    want = {
        (r["user_id"], r["ts"]): r["ewma"]
        for r in ewma_batch(ev, alpha=0.2).collect()
    }
    assert len(got) == len(want) > 0
    mism = {k for k in want if abs((got.get(k) or 0) - want[k]) > 1e-9}
    assert not mism, f"{len(mism)} EWMA mismatches across batch boundary"


def test_ewma_batch_drops_null_keys(spark):
    """r16 advice #1: the vectorized groupby-ewm path must keep the
    old per-group loop's semantics for null user_id — those rows are
    dropped entirely, never emitted with NaN ewma, and a NaN key never
    enters the carry dict."""
    ev = load_table(spark, SMOKE_SF_DIR, "events").select("user_id", "ts", "value")
    with_nulls = ev.unionByName(
        ev.limit(3).withColumn("user_id", F.lit(None).cast("long"))
    )
    got = ewma_batch(with_nulls, alpha=0.2).collect()
    assert all(r["user_id"] is not None for r in got)
    want = {
        (r["user_id"], r["ts"]): r["ewma"]
        for r in ewma_batch(ev, alpha=0.2).collect()
    }
    assert len(got) == len(want) > 0
    for r in got:
        assert abs(want[(r["user_id"], r["ts"])] - r["ewma"]) < 1e-12


def test_ewma_batch_keeps_int64_ids_exact_beside_null_keys(spark):
    """A null key in the same batch must not leave user_id as float64
    once the null rows are dropped: 2**53 and 2**53 + 1 are one float,
    so the two users would merge in the carry dict and the output."""
    import datetime as dt

    from conftest import local_df

    big = 2**53
    t = [dt.datetime(2024, 1, 1, 0, m) for m in range(3)]
    rows = [(big, t[0], 1.0), (big, t[1], 2.0), (big + 1, t[0], 10.0),
            (big + 1, t[1], 20.0), (big + 1, t[2], 30.0), (None, t[0], 5.0)]
    ev = local_df(spark, rows, "user_id BIGINT, ts TIMESTAMP, value DOUBLE")
    got = {(r["user_id"], r["ts"]): r["ewma"]
           for r in ewma_batch(ev.coalesce(1), alpha=0.5).collect()}
    assert got == {
        (big, t[0]): 1.0, (big, t[1]): 1.5,
        (big + 1, t[0]): 10.0, (big + 1, t[1]): 15.0, (big + 1, t[2]): 22.5,
    }


def test_ivf_ann_recall(spark):
    emb = load_table(spark, ORACLE_SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_ann_ivf(emb, queries, k=5, n_centroids=16, nprobe=4).collect()
    }
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.5, f"IVF recall {recall:.2f} below floor"


def test_point_in_interval_join_equals_theta_join(spark):
    from pyspark.sql import functions as F

    from b3_analytics_engine_spark.operators.joins import point_in_interval_join
    from b3_analytics_engine_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    w = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("window_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 37 MINUTES")).alias("w_end"),
    )
    p = ev.select(F.col("event_id").alias("p_id"), "ts")

    # bucket (20 min) deliberately != interval length (37 min) so
    # intervals span 2-3 buckets — exercises the explode/dedup claim
    fast = point_in_interval_join(
        p, w, "ts", "w_start", "w_end", bucket_seconds=1200
    ).select("window_id", "p_id")
    slow = w.join(
        p, (p["ts"] >= w["w_start"]) & (p["ts"] < w["w_end"])
    ).select("window_id", "p_id")
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))
    assert fast.count() == fast.distinct().count()  # no duplicate matches

    # left form keeps empty windows exactly once
    left = point_in_interval_join(
        p, w, "ts", "w_start", "w_end", bucket_seconds=1200, how="left"
    )
    assert left.select("window_id").distinct().count() == w.count()


def test_salted_join_plan_carries_salt_key(spark):
    from b3_analytics_engine_spark.plans import physical_plan

    ev = load_table(spark, SMOKE_SF_DIR, "events")
    dim = ev.select("user_id").distinct().withColumn("tag", F.col("user_id") * 10)
    plan = physical_plan(salted_join(ev, dim, "user_id", left_unique_col="event_id"))
    # the join condition must include the salt, or the spread is a no-op
    assert "_salt" in plan


def test_dedup_stream_bounded_state_across_batches(spark, tmpdir):
    """Duplicate keys injected across TWO micro-batches within the
    watermark window are emitted exactly once (bounded-state streaming
    dedup ≡ batch dropDuplicates on this input)."""
    from b3_analytics_engine_spark.streaming.pipeline import dedup_stream

    ev = (
        load_table(spark, SMOKE_SF_DIR, "events")
        .select("event_id", "ts", "user_id", "value")
        .limit(500)
    )
    src = f"{tmpdir}/src"
    ev.coalesce(1).write.parquet(f"{src}/b1.parquet")
    # second batch: re-deliver 200 of the same rows (at-least-once replay)
    ev.limit(200).coalesce(1).write.parquet(f"{src}/b2.parquet")

    stream = stream_parquet_dir(
        spark, f"{src}/*", ev.schema, max_files_per_trigger=1
    )
    q = (
        dedup_stream(stream, ["event_id"], "ts", "1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", f"{tmpdir}/ckpt_dedup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert q.lastProgress is not None
    got = spark.sql("SELECT event_id FROM dedup_out").collect()
    ids = [r["event_id"] for r in got]
    assert len(ids) == len(set(ids)), "duplicates leaked through"
    assert sorted(ids) == sorted(
        r["event_id"] for r in ev.select("event_id").distinct().collect()
    )


def test_trade_pagerank_is_a_distribution(spark):
    from b3_analytics_engine_spark.queries.advanced import trade_pagerank_q

    rows = trade_pagerank_q(spark, SMOKE_SF_DIR).collect()
    assert len(rows) == 25
    assert all(r["pagerank"] > 0 for r in rows)
    assert abs(sum(r["pagerank"] for r in rows) - 1.0) < 1e-3
