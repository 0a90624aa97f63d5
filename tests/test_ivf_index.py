"""Persisted IVF vector index: the SignatureStore's embedding twin.

Invariants under test:
- the indexed probe (`cosine_ann_ivf_indexed`) is ROW-IDENTICAL to the
  self-training `cosine_ann_ivf` on the same corpus/params (training
  is deterministic, so the persisted quantizer equals the recomputed
  one);
- probes actually PRUNE: the index scan's input files cover only the
  probed ``cell=`` directories — the inverted-file read expressed as
  Spark partition pruning;
- `ivf_append` makes new vectors searchable as O(batch) deltas without
  retraining, `exclude_batch` hides an in-flight batch (replay hook),
  and `ivf_compact` folds deltas while preserving the partition layout
  pruning relies on.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conftest import local_df

from b3_analytics_engine_spark.operators.similarity import (
    cosine_ann_ivf,
    cosine_ann_ivf_indexed,
)
from b3_analytics_engine_spark.signature_store import SignatureStore
from b3_analytics_engine_spark.tables import SMOKE_SF_DIR, load_table

PARAMS = dict(n_centroids=8, kmeans_iters=2, nprobe=3)


@pytest.fixture()
def emb(spark):
    return load_table(spark, SMOKE_SF_DIR, "embeddings")


# the (8-centroid, 2-iter) index every test here starts from, built
# ONCE per module and copied per test (milliseconds) — the first-build
# path stays covered by test_indexed_probe_row_identical_to_from_frame,
# which still builds fresh
@pytest.fixture(scope="module")
def _prebuilt_ivf_store(spark, tmp_path_factory):
    import shutil as _shutil  # noqa: F401 — parity with other modules

    emb = load_table(spark, SMOKE_SF_DIR, "embeddings")
    root = str(tmp_path_factory.mktemp("prebuilt-ivf") / "store")
    store = SignatureStore(spark, root)
    store.ivf_index(emb, "emb", n_centroids=8, iters=2)
    return root


@pytest.fixture()
def ivf_store_dir(tmp_path, _prebuilt_ivf_store):
    import shutil

    dst = str(tmp_path / "store")
    shutil.copytree(_prebuilt_ivf_store, dst)
    return dst


@pytest.fixture()
def ivf_store(spark, ivf_store_dir):
    return SignatureStore(spark, ivf_store_dir)


@pytest.fixture()
def queries(emb):
    return emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_indexed_probe_row_identical_to_from_frame(
    spark, emb, queries, tmp_path
):
    store = SignatureStore(spark, str(tmp_path / "store"))
    store.ivf_index(
        emb, "emb", n_centroids=PARAMS["n_centroids"],
        iters=PARAMS["kmeans_iters"],
    )
    fast = cosine_ann_ivf_indexed(store, "emb", queries, k=5, **PARAMS)
    slow = cosine_ann_ivf(emb, queries, k=5, **PARAMS)
    assert _rows(fast) == _rows(slow)
    assert fast.count() > 0


def test_probe_prunes_to_probed_cells(spark, emb, queries, ivf_store):
    from b3_analytics_engine_spark.operators.similarity import (
        ivf_assignments,
    )

    store = ivf_store
    C = store.ivf_centroids(None, "emb", n_centroids=8, iters=2)
    probed = {
        r["cell"]
        for r in ivf_assignments(
            queries.select("query_id", F.col("embedding").alias("_v")),
            C, "query_id", "_v", nprobe=3,
        ).select("cell").distinct().collect()
    }
    # the pruning claim is only meaningful if some cells are NOT probed
    assert len(probed) < 8
    idx = store.ivf_index(None, "emb", n_centroids=8, iters=2).filter(
        F.col("cell").isin(sorted(probed))
    )
    # the isin filter must reach the scan as a PARTITION filter (the
    # inverted-file read: directories outside the probe set are never
    # listed into the scan), not a post-scan data filter
    import re

    plan = idx._jdf.queryExecution().executedPlan().toString()
    pf = re.findall(r"PartitionFilters: \[[^\]]*cell[^\]]*IN[^\]]*\]", plan)
    assert pf, f"no cell partition filter in plan:\n{plan[:2000]}"
    assert not re.search(r"DataFilters: \[[^\]]*cell[^\]]*\]", plan)
    # and every id the probe scans really belongs to a probed cell
    assert {
        r["cell"] for r in idx.select("cell").distinct().collect()
    } <= probed


def test_append_searchable_excludable_compactable(
    spark, emb, queries, ivf_store
):
    import numpy as np

    store = ivf_store

    # a new vector that is an exact copy of query 0's embedding: it
    # must become that query's top-1 neighbor once appended
    q0 = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    new = local_df(spark, 
        [(90001, [float(x) for x in q0]),
         (90002, [float(x) for x in np.roll(np.asarray(q0), 3)])],
        "vec_id long, embedding array<float>",
    )
    store.ivf_append(new, "emb", "day1", n_centroids=8, iters=2)

    got = cosine_ann_ivf_indexed(store, "emb", queries, k=5, **PARAMS)
    got_rows = _rows(got)  # snapshot: the re-append below replaces the
    # delta's files, so the frame itself must not be re-collected after
    top = {
        r["query_id"]: r["neighbor_id"]
        for r in got.filter(F.col("rank") == 1).collect()
    }
    assert top[0] == 90001  # the appended twin wins

    # replay hook: exclude_batch hides the delta entirely
    hidden = cosine_ann_ivf_indexed(
        store, "emb", queries, k=5, exclude_batch="day1", **PARAMS
    )
    assert not [
        r for r in hidden.collect() if r["neighbor_id"] in (90001, 90002)
    ]

    # re-append (at-least-once) is a wholesale replace, not a dup
    store.ivf_append(new, "emb", "day1", n_centroids=8, iters=2)
    again = cosine_ann_ivf_indexed(store, "emb", queries, k=5, **PARAMS)
    assert _rows(again) == got_rows

    # compaction folds the delta, preserves results AND the
    # cell-partitioned layout
    before = got_rows
    assert store.ivf_compact("emb", n_centroids=8, iters=2) == 1
    path = store.ivf_index_path("emb", n_centroids=8, iters=2)
    assert store._delta_paths(path) == []
    assert any(
        seg.startswith("cell=") for seg in os.listdir(path)
    )
    after = cosine_ann_ivf_indexed(store, "emb", queries, k=5, **PARAMS)
    assert _rows(after) == before
    # folded batch name is now refused
    with pytest.raises(ValueError, match="folded"):
        store.ivf_append(new, "emb", "day1", n_centroids=8, iters=2)


def test_ivf_append_refuses_reserved_batch_names(ivf_store, emb):
    # the IVF side of test_signature_store's reserved-name loop: a name
    # that collides with the swap machinery's parking/staging dirs (or
    # a path trick) must be refused before anything is written, both by
    # ivf_append's own up-front check and by the cell-partitioned
    # _append_delta commit it shares with the retrain/rescale re-assign
    new = emb.limit(2).withColumn("vec_id", F.col("vec_id") + 90000)
    path = ivf_store.ivf_index_path("emb", n_centroids=8, iters=2)
    rows = ivf_store.ivf_index(emb, "emb", n_centroids=8, iters=2)
    for bad in ("x__old", "x__staging", "a/b", "_x", ".x"):
        with pytest.raises(ValueError, match="invalid batch name"):
            ivf_store.ivf_append(new, "emb", bad, n_centroids=8, iters=2)
        with pytest.raises(ValueError, match="invalid batch name"):
            ivf_store._append_delta(rows, path, bad, partition_by="cell")
    assert not os.path.exists(ivf_store._delta_root(path))


def test_streaming_ivf_append_end_to_end_with_replay(
    spark, emb, queries, tmp_path, ivf_store_dir
):
    """Stretch #7 (r10 verdict): the IVF index joins the incremental
    family's streaming side. Two-epoch embedding stream through the
    real writeStream shell → the indexed probe returns the appended
    twin vector as top-1 — and an at-least-once REPLAY of each epoch
    (driving the foreachBatch body directly) leaves results
    byte-identical, including with compaction inside the epoch."""
    import time as _time

    import numpy as np

    from b3_analytics_engine_spark.streaming.pipeline import (
        ivf_append_micro_batch,
        start_ivf_append,
    )

    store = SignatureStore(spark, ivf_store_dir, owner="ivf-ck")

    q0 = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    day1 = [(90001, [float(x) for x in q0])]
    day2 = [(90002, [float(x) for x in np.roll(np.asarray(q0), 3)])]
    src = str(tmp_path / "src")
    schema = "vec_id long, embedding array<float>"
    local_df(spark, day1, schema).coalesce(1).write.parquet(
        f"{src}/d1.parquet"
    )
    _time.sleep(1.2)  # file-source orders micro-batches by mod time
    local_df(spark, day2, schema).coalesce(1).write.parquet(
        f"{src}/d2.parquet"
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = start_ivf_append(
        stream, store, "emb",
        checkpoint=str(tmp_path / "ckpt"),
        n_centroids=8, iters=2, compact_every=2,
    )
    q.awaitTermination(180)

    got = cosine_ann_ivf_indexed(store, "emb", queries, k=5, **PARAMS)
    rows = _rows(got)
    top = {
        r["query_id"]: r["neighbor_id"]
        for r in got.filter(F.col("rank") == 1).collect()
    }
    assert top[0] == 90001  # epoch-0's appended twin is top-1

    # epoch 0 was folded by the in-epoch-1 compact (exclude=epoch-1),
    # epoch 1 is still a live delta — exactly the dedup stream's shape
    path = store.ivf_index_path("emb", n_centroids=8, iters=2)
    assert "epoch-0" in store._folded_names(path)
    live = [p.rsplit("/", 1)[-1] for p in store._delta_paths(path)]
    assert live == ["epoch-1"]

    # at-least-once replay of the LIVE epoch: wholesale delta replace,
    # identical observable state (the folded epoch can no longer
    # replay by the exclude=current contract)
    ivf_append_micro_batch(
        local_df(spark, day2, schema), 1, store, "emb",
        n_centroids=8, iters=2, compact_every=2,
    )
    again = cosine_ann_ivf_indexed(store, "emb", queries, k=5, **PARAMS)
    assert _rows(again) == rows


def test_validate_ivf_green_then_catches_planted_faults(
    spark, emb, tmp_path
):
    """IVF fsck: green on a healthy base+delta index; flags planted
    duplicate ids and misassigned cells; absent artifacts report
    ok=false rather than raising."""
    import numpy as np

    store = SignatureStore(spark, str(tmp_path / "store"))
    assert not store.validate_ivf("emb", n_centroids=8, iters=2)["ok"]

    store.ivf_index(emb, "emb", n_centroids=8, iters=2)
    q0 = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    store.ivf_append(
        local_df(spark, 
            [(90001, [float(x) for x in np.roll(np.asarray(q0), 5)])],
            "vec_id long, embedding array<float>",
        ),
        "emb", "day1", n_centroids=8, iters=2,
    )
    report = store.validate_ivf("emb", n_centroids=8, iters=2)
    assert report["ok"], report["errors"]
    assert report["counts"]["centroids"] == 8

    # plant a duplicate id in a WRONG cell as a second delta
    row = store.ivf_index(None, "emb", n_centroids=8, iters=2).filter(
        F.col("id") == 90001
    ).first()
    wrong_cell = (row["cell"] + 1) % 8
    store._append_delta(
        local_df(spark, 
            [(wrong_cell, 90001, row["v"])], "cell int, id long, v array<double>"
        ),
        store.ivf_index_path("emb", n_centroids=8, iters=2),
        "bad",
    )
    report = store.validate_ivf("emb", n_centroids=8, iters=2)
    assert not report["ok"]
    assert any("more than one row" in e for e in report["errors"])
    assert any("nearest cell" in e for e in report["errors"])


def test_retrain_rebalances_drifted_cells_and_keeps_ledger(
    spark, emb, queries, ivf_store
):
    """Appends assign against frozen centroids, so a drifted batch
    piles into few cells; ivf_retrain re-trains the quantizer FROM
    THE INDEX'S OWN VECTORS, folds the deltas, spreads the hot mass
    across cells, keeps every id exactly once, stays probe-correct,
    and carries the replay ledger (folded batch names refused after
    the rebuild). ivf_maybe_retrain only fires past max_balance."""
    import numpy as np

    store = ivf_store
    dim = len(emb.first()["embedding"])
    n_before = store.ivf_index(None, "emb", n_centroids=8, iters=2).count()

    # a tight alien cluster far from the corpus: one dominant axis
    # the corpus doesn't use, tiny jitter
    rng = np.random.default_rng(11)
    drifted = []
    for i in range(120):
        v = rng.normal(scale=0.01, size=dim)
        v[dim - 1] += 10.0
        v /= np.linalg.norm(v)
        drifted.append((91000 + i, [float(x) for x in v]))
    batch = local_df(spark, 
        drifted, "vec_id long, embedding array<float>"
    )
    store.ivf_append(batch, "emb", "drift-day", n_centroids=8, iters=2)

    before = store.ivf_cell_stats("emb", n_centroids=8, iters=2)
    assert before["total"] == n_before + 120
    # the whole alien cluster shares a nearest centroid -> hot cell
    hot = max(before["cells"].values())
    assert hot >= 120

    # under-threshold guard: a sky-high max_balance is a no-op
    assert store.ivf_maybe_retrain(
        "emb", n_centroids=8, iters=2, max_balance=1e9
    ) == -1

    folded = store.ivf_maybe_retrain(
        "emb", n_centroids=8, iters=2, max_balance=1.5
    )
    assert folded == 1  # the drift-day delta folded into the rebuild

    after = store.ivf_cell_stats("emb", n_centroids=8, iters=2)
    assert after["total"] == before["total"]  # every row survived
    assert after["balance"] < before["balance"]  # skew repaired
    # the alien mass now holds its own cells instead of riding one
    assert max(after["cells"].values()) < hot

    idx = store.ivf_index(None, "emb", n_centroids=8, iters=2)
    ids = [r["id"] for r in idx.select("id").collect()]
    assert len(ids) == len(set(ids))  # no id doubled by the rebuild
    assert store._delta_paths(
        store.ivf_index_path("emb", n_centroids=8, iters=2)
    ) == []
    assert store.validate_ivf("emb", n_centroids=8, iters=2)["ok"]

    # probe correctness after the rebuild: a drifted query's top-1 is
    # a drifted neighbor (its own cell now exists and prunes correctly)
    q = local_df(spark, 
        [(0, drifted[0][1])], "query_id long, embedding array<float>"
    )
    top = cosine_ann_ivf_indexed(
        store, "emb", q, k=1, n_centroids=8, kmeans_iters=2, nprobe=1
    ).first()
    assert top["neighbor_id"] >= 91000

    # the replay ledger rode into the rebuilt base
    with pytest.raises(ValueError, match="folded"):
        store.ivf_append(batch, "emb", "drift-day", n_centroids=8, iters=2)


def test_retrain_exclude_keeps_epoch_replayable(spark, emb, ivf_store):
    """ivf_retrain(exclude=epoch) is the in-epoch form: the excluded
    delta survives the rebuild re-assigned under the NEW quantizer
    (stale cells would dodge pruning), its name stays un-ledgered so
    an at-least-once replay can wholesale-replace it, and everything
    fscks green before and after that replay."""
    import numpy as np

    store = ivf_store
    dim = len(emb.first()["embedding"])
    rng = np.random.default_rng(3)

    def mk(base_id, n, axis):
        out = []
        for i in range(n):
            v = rng.normal(scale=0.01, size=dim)
            v[axis] += 10.0
            v /= np.linalg.norm(v)
            out.append((base_id + i, [float(x) for x in v]))
        return out

    older = local_df(spark, 
        mk(92000, 60, dim - 1), "vec_id long, embedding array<float>"
    )
    store.ivf_append(older, "emb", "epoch-0", n_centroids=8, iters=2)
    current = local_df(spark, 
        mk(93000, 8, dim - 2), "vec_id long, embedding array<float>"
    )
    store.ivf_append(current, "emb", "epoch-1", n_centroids=8, iters=2)
    total = store.ivf_index(None, "emb", n_centroids=8, iters=2).count()

    # only epoch-0 folds; epoch-1 stays a live delta
    assert store.ivf_retrain("emb", n_centroids=8, iters=2,
                             exclude="epoch-1") == 1
    path = store.ivf_index_path("emb", n_centroids=8, iters=2)
    live = [d.rsplit("/", 1)[-1] for d in store._delta_paths(path)]
    assert live == ["epoch-1"]
    assert store._folded_names(path) == {"epoch-0"}
    assert store.ivf_index(None, "emb", n_centroids=8, iters=2).count() == total
    # the surviving delta was re-assigned under the new quantizer —
    # the fsck's nearest-centroid check covers base AND deltas
    assert store.validate_ivf("emb", n_centroids=8, iters=2)["ok"]

    # at-least-once replay of the excluded epoch still goes through
    # (wholesale replace, assigned against the current centroids)
    store.ivf_append(current, "emb", "epoch-1", n_centroids=8, iters=2)
    assert store.ivf_index(None, "emb", n_centroids=8, iters=2).count() == total
    assert store.validate_ivf("emb", n_centroids=8, iters=2)["ok"]
    # the folded epoch is refused as ever
    with pytest.raises(ValueError, match="folded"):
        store.ivf_append(older, "emb", "epoch-0", n_centroids=8, iters=2)


def test_index_rescales_cell_count_from_its_own_rows(spark, emb, ivf_store):
    """The scaling contract says cell count grows with the corpus —
    and the index stores (cell, id, v) with v already double, so a
    RESCALE into a bigger quantizer is just ivf_index(live_view) at
    the new n_centroids: no source-lake re-read, new path, old index
    untouched. The rescaled index must hold exactly the same ids and
    fsck green under its own params."""
    store = ivf_store
    live = store.ivf_index(None, "emb", n_centroids=8, iters=2)
    want = sorted(r["id"] for r in live.select("id").collect())

    rescaled = store.ivf_index(
        live.select("id", "v"), "emb-16",
        id_col="id", vec_col="v", n_centroids=16, iters=2,
    )
    assert sorted(r["id"] for r in rescaled.select("id").collect()) == want
    assert store.validate_ivf("emb-16", n_centroids=16, iters=2)["ok"]
    # the original index is untouched and still green
    assert store.validate_ivf("emb", n_centroids=8, iters=2)["ok"]


def test_empty_epoch_append_keeps_index_readable(spark, emb, queries, ivf_store):
    """An epoch where EVERY row deduped away still commits its
    (empty) delta — the at-least-once replay contract needs the
    wholesale-replace target — and every index consumer must stay
    correct over it: reads, cell stats, probes, compaction, retrain.
    (Found by the ingest soak: an empty delta directory has no footer
    to infer a schema from, so per-root reads need the base's.)"""
    store = ivf_store
    empty = local_df(spark, 
        [], "vec_id long, embedding array<float>"
    )
    n = store.ivf_index(None, "emb", n_centroids=8, iters=2).count()
    store.ivf_append(empty, "emb", "quiet-day", n_centroids=8, iters=2)

    assert store.ivf_index(None, "emb", n_centroids=8, iters=2).count() == n
    stats = store.ivf_cell_stats("emb", n_centroids=8, iters=2)
    assert stats["total"] == n
    top = cosine_ann_ivf_indexed(
        store, "emb", queries, k=1,
        n_centroids=8, kmeans_iters=2, nprobe=2,
    )
    assert top.count() > 0
    assert store.validate_ivf("emb", n_centroids=8, iters=2)["ok"]
    # retrain with the empty delta excluded (in-epoch form), then
    # compaction folds it away cleanly
    assert store.ivf_retrain("emb", n_centroids=8, iters=2,
                             exclude="quiet-day") == 0
    assert store.ivf_index(None, "emb", n_centroids=8, iters=2).count() == n
    assert store.ivf_compact("emb", n_centroids=8, iters=2) == 1
    assert store.validate_ivf("emb", n_centroids=8, iters=2)["ok"]


def test_spread_seeding_reaches_drifted_region(spark):
    """seeding="spread" (farthest-first over the sample) must place
    seeds in BOTH modes of a bimodal sample whose low ids all live in
    one region — the exact geometry that bounded ivf_retrain's repair
    depth under the default first-ids seeding — and end with a better
    cell balance after the same Lloyd iterations. Default stays
    "first": the registered ANN queries' frames must not move."""
    import numpy as np

    from b3_analytics_engine_spark.operators.similarity import (
        kmeans_centroids,
    )

    dim = 8
    rng = np.random.default_rng(7)
    rows = []
    for i in range(200):  # low ids: region A (first axis)
        v = rng.normal(scale=0.05, size=dim)
        v[0] += 5.0
        rows.append((i, [float(x) for x in v]))
    for i in range(200):  # high ids: region B (last axis)
        v = rng.normal(scale=0.05, size=dim)
        v[dim - 1] += 5.0
        rows.append((1000 + i, [float(x) for x in v]))
    df = local_df(spark, rows, "vec_id long, embedding array<float>")

    def balance(C):
        X = np.asarray([r[1] for r in rows])
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        Cn = C / np.maximum(
            np.linalg.norm(C, axis=1, keepdims=True), 1e-12
        )
        cells = np.argmax(Xn @ Cn.T, axis=1)
        counts = np.bincount(cells, minlength=len(C))
        occupied = counts[counts > 0]
        return counts.max() / max(occupied.mean(), 1e-12)

    first = kmeans_centroids(df, 4, iters=2, seeding="first")
    spread = kmeans_centroids(df, 4, iters=2, seeding="spread")
    # first-ids seeding starts all 4 seeds inside region A; spread's
    # second seed lands in region B by construction
    assert balance(spread) <= balance(first)
    Cn = spread / np.linalg.norm(spread, axis=1, keepdims=True)
    assert Cn[:, 0].max() > 0.9 and Cn[:, dim - 1].max() > 0.9
    # determinism: same input, same centroids
    again = kmeans_centroids(df, 4, iters=2, seeding="spread")
    assert np.allclose(spread, again)
    with pytest.raises(ValueError, match="seeding"):
        kmeans_centroids(df, 4, seeding="nope")


def test_ivf_rescale_moves_family_and_keeps_contracts(
    spark, emb, queries, ivf_store
):
    """ivf_rescale rebuilds the family at a new cell count from the
    index's own rows: every id survives exactly once, the replay
    ledger rides (a folded batch is refused on the NEW family), the
    excluded in-flight epoch moves families under its own name and
    stays wholesale-replaceable, the old family is GC'd, probes work
    at the new count, and fsck is green."""
    store = ivf_store
    n0 = store.ivf_index(None, "emb", n_centroids=8, iters=2).count()
    dim = len(emb.first()["embedding"])

    b1 = local_df(
        spark,
        [(91000 + i, [float(j == i % 4) for j in range(dim)])
         for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    ep = local_df(
        spark,
        [(92000 + i, [float(j == (i + 1) % 4) for j in range(dim)])
         for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    store.ivf_append(b1, "emb", "b1", n_centroids=8, iters=2)
    store.ivf_append(ep, "emb", "epoch-9", n_centroids=8, iters=2)

    with pytest.raises(ValueError, match="same scale|equals"):
        store.ivf_rescale("emb", n_centroids=8, iters=2, new_n_centroids=8)

    folded = store.ivf_rescale(
        "emb", n_centroids=8, iters=2, new_n_centroids=32,
        exclude="epoch-9",
    )
    assert folded == 1  # b1 folded; epoch-9 stays a live delta

    # old family gone, new family serves everything exactly once
    assert not store._is_complete(store.ivf_index_path("emb", 8, 2))
    assert not store._is_complete(store.ivf_centroids_path("emb", 8, 2))
    idx = store.ivf_index(None, "emb", n_centroids=32, iters=2)
    ids = [r["id"] for r in idx.select("id").collect()]
    assert len(ids) == len(set(ids)) == n0 + 6 + 3
    stats = store.ivf_cell_stats("emb", 32, 2)
    assert stats["total"] == n0 + 9 and stats["occupied"] > 8

    # ledger rode into the new family: b1 re-commit refused
    with pytest.raises(ValueError, match="folded"):
        store.ivf_append(b1, "emb", "b1", n_centroids=32, iters=2)
    # the in-flight epoch replays onto the NEW family idempotently
    store.ivf_append(ep, "emb", "epoch-9", n_centroids=32, iters=2)
    assert store.ivf_index(
        None, "emb", n_centroids=32, iters=2
    ).count() == n0 + 9

    top = cosine_ann_ivf_indexed(
        store, "emb", queries, k=1, n_centroids=32, kmeans_iters=2, nprobe=2
    )
    assert top.count() > 0
    assert store.validate_ivf("emb", n_centroids=32, iters=2)["ok"]


def test_active_family_marker_and_rescale_escalation(spark, emb, ivf_store):
    """The grow-without-downtime loop: the first index build records
    the active family key; ivf_maybe_retrain(rescale_balance=...)
    escalates to a rescale when a retrain cannot beat the occupancy
    floor; the marker follows the rescale, so n_centroids=None
    consumers (the streaming append epoch, the indexed probe) adopt
    the new cell count on their next call — no redeploy, no stream
    stop."""
    import numpy as np

    from b3_analytics_engine_spark.streaming.pipeline import (
        ivf_append_micro_batch,
    )

    store = ivf_store
    assert store.ivf_active("emb") == (8, 2)  # stamped at first build
    assert store.ivf_resolve("emb", None, None) == (8, 2)
    assert store.ivf_resolve("emb", 99, 1) == (99, 1)  # explicit wins

    dim = len(emb.first()["embedding"])
    rng = np.random.default_rng(23)
    drifted = []
    for i in range(150):  # tight alien cluster: one dominant axis
        v = rng.normal(scale=0.01, size=dim)
        v[dim - 1] += 10.0
        drifted.append((93000 + i, [float(x) for x in v / np.linalg.norm(v)]))
    batch = local_df(spark, drifted, "vec_id long, embedding array<float>")
    # n_centroids=None resolves the marker -> commits into the (8,2)
    # family
    ivf_append_micro_batch(batch, 0, store, "emb")
    assert store._delta_paths(store.ivf_index_path("emb", 8, 2)) != []

    n_total = store.ivf_index(None, "emb", n_centroids=8, iters=2).count()
    folded = store.ivf_maybe_retrain(
        "emb", n_centroids=8, iters=2,
        max_balance=1.2, rescale_balance=1.2, rescale_factor=4,
    )
    assert folded == 1  # the epoch-0 delta folded by the retrain
    # the tight blob beat the retrain -> escalated to 4x cells, and
    # the marker moved with it; the old family is gone
    assert store.ivf_active("emb") == (32, 2)
    assert not store._is_complete(store.ivf_index_path("emb", 8, 2))
    assert store.ivf_cell_stats("emb", 32, 2)["total"] == n_total

    # the next n_centroids=None epoch lands in the NEW family...
    nb = local_df(
        spark,
        [(94000, [float(j == 0) for j in range(dim)])],
        "vec_id long, embedding array<float>",
    )
    ivf_append_micro_batch(nb, 1, store, "emb")
    assert [
        d.rsplit("/", 1)[-1]
        for d in store._delta_paths(store.ivf_index_path("emb", 32, 2))
    ] == ["epoch-1"]
    # ...and a marker-following probe finds a drifted neighbor for a
    # drifted query without being told the new cell count
    q = local_df(
        spark, [(0, drifted[0][1])], "query_id long, embedding array<float>"
    )
    top = cosine_ann_ivf_indexed(
        store, "emb", q, k=1, n_centroids=None, kmeans_iters=None, nprobe=1
    ).first()
    assert top["neighbor_id"] >= 93000
    assert store.validate_ivf("emb", n_centroids=32, iters=2)["ok"]


def test_occupancy_escalation_fires_on_pure_growth(spark, emb, ivf_store):
    """Balance is scale-invariant: doubling the corpus uniformly
    leaves max/mean near 1.0 while every probe's per-cell cost
    doubles. ivf_maybe_retrain(rescale_occupancy=...) must escalate
    to a rescale on mean occupancy alone — with the skew gate unable
    to fire (max_balance sky-high) — sized so one rescale brings
    occupancy back under target."""
    store = ivf_store
    base = store.ivf_index(None, "emb", n_centroids=8, iters=2)
    n0 = base.count()

    # uniform growth: the corpus's own vectors under fresh ids, so
    # per-cell shares (and therefore balance) are preserved exactly
    growth = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    store.ivf_append(growth, "emb", "growth-day", n_centroids=8, iters=2)
    stats = store.ivf_cell_stats("emb", 8, 2)
    assert stats["total"] == 2 * n0

    # under-target guard: occupancy below target is a no-op even
    # though the corpus grew
    assert store.ivf_maybe_retrain(
        "emb", n_centroids=8, iters=2,
        max_balance=1e9, rescale_occupancy=1e9,
    ) == -1

    occupancy = stats["total"] / stats["occupied"]
    folded = store.ivf_maybe_retrain(
        "emb", n_centroids=8, iters=2,
        max_balance=1e9,  # the skew gate can never fire
        rescale_occupancy=occupancy / 2,
        rescale_factor=4,
    )
    assert folded == 1  # the growth delta folded by the rescale

    # escalated straight to a rescale: marker moved, old family gone,
    # every id exactly once, occupancy back under target
    assert store.ivf_active("emb") == (32, 2)
    assert not store._is_complete(store.ivf_index_path("emb", 8, 2))
    after = store.ivf_cell_stats("emb", 32, 2)
    assert after["total"] == 2 * n0
    ids = [
        r["id"] for r in store.ivf_index(
            None, "emb", n_centroids=32, iters=2
        ).select("id").collect()
    ]
    assert len(ids) == len(set(ids)) == 2 * n0
    assert after["total"] / after["occupied"] <= occupancy / 2 * 1.5


def test_rescale_refuses_independent_sibling_family(spark, emb, ivf_store):
    """An independent completed family already living at the rescale
    target key must raise: wholesale-replacing its base would leave
    its live delta tree to union into every read of the rebuilt
    family (duplicate ids / misassigned cells)."""
    store = ivf_store
    dim = len(emb.first()["embedding"])
    store.ivf_index(emb, "emb", n_centroids=32, iters=2)
    sib_delta = local_df(
        spark,
        [(95000 + i, [float(j == i) for j in range(dim)]) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    store.ivf_append(sib_delta, "emb", "sib-b1", n_centroids=32, iters=2)
    n_sib = store.ivf_index(None, "emb", n_centroids=32, iters=2).count()

    with pytest.raises(ValueError, match="independent"):
        store.ivf_rescale("emb", n_centroids=8, iters=2, new_n_centroids=32)

    # the sibling family (base AND delta) is untouched
    assert store.ivf_index(
        None, "emb", n_centroids=32, iters=2
    ).count() == n_sib
    assert store._is_complete(store.ivf_index_path("emb", 8, 2))


def test_rescale_rerun_is_idempotent_and_clears_stale_deltas(
    spark, emb, ivf_store
):
    """A family the rescale itself produced (identified by the
    `_rescaled_from` provenance marker) may be wholesale-replaced by
    re-running the same rescale — the crash-recovery contract — and
    the crashed attempt's own in-flight-epoch delta is swept, never
    unioned into reads of the rebuilt base. The sweep is SURGICAL:
    a delta epoch BEYOND the re-run's exclude means the prior run
    reached activation and streams have committed to the family
    since, so the re-run refuses rather than silently discarding
    those epochs' vectors (r13 advice). validate_ivf surfaces the
    leftover source family as a warning either way."""
    store = ivf_store
    dim = len(emb.first()["embedding"])
    n0 = store.ivf_index(None, "emb", n_centroids=8, iters=2).count()
    assert store.ivf_orphans("emb") == []  # nothing rescaled yet
    assert store.validate_ivf("emb", n_centroids=8, iters=2)["warnings"] == []
    store.ivf_rescale("emb", n_centroids=8, iters=2, new_n_centroids=32)
    # a CLEAN rescale GC'd its source: no orphan reported
    assert store.ivf_orphans("emb") == []

    # simulate the REAL crashed-attempt state: the new family holds
    # the in-flight epoch's delta (written by the crashed run), the
    # source family is back on disk, and — because family GC is the
    # rescale's LAST step — the same epoch still exists on the
    # source's delta root too
    stale = local_df(
        spark,
        [(96000 + i, [float(j == i) for j in range(dim)]) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    store.ivf_append(stale, "emb", "inflight-ep", n_centroids=32, iters=2)
    store.ivf_index(emb, "emb", n_centroids=8, iters=2)
    store.ivf_append(stale, "emb", "inflight-ep", n_centroids=8, iters=2)
    # ...which is exactly the shape ivf_orphans exists to surface:
    # the product (32,2) carries _rescaled_from_8-2 while (8,2) is
    # back on disk — the manual-GC report the rescale docstring
    # points operators at, now ALSO carried in the fsck result
    assert store.ivf_orphans("emb") == [(8, 2)]
    fsck = store.validate_ivf("emb", n_centroids=32, iters=2)
    assert fsck["ok"]  # a warning, not a failure
    assert fsck["counts"]["rescale_orphans"] == [(8, 2)]
    assert len(fsck["warnings"]) == 1
    assert "n_centroids=8" in fsck["warnings"][0]

    # a re-run that does NOT name the epoch must refuse: for all it
    # knows, that delta is a post-activation stream commit whose
    # vectors a rebuild from the source family would discard
    with pytest.raises(ValueError, match="inflight-ep"):
        store.ivf_rescale("emb", n_centroids=8, iters=2, new_n_centroids=32)

    # naming it as the exclude epoch is the crashed-attempt recovery.
    # Pin the crashed-BEFORE-activation state (the source family is
    # still the active one), so this exercises the sweep-then-
    # re-assign-from-live-source-twin path — the target's stale copy
    # (assigned under the crashed run's quantizer) is swept and the
    # epoch re-assigned fresh from the source twin
    store.ivf_set_active("emb", 8, 2)
    store.ivf_rescale(
        "emb", n_centroids=8, iters=2, new_n_centroids=32,
        exclude="inflight-ep",
    )
    assert store.ivf_active("emb") == (32, 2)  # re-run re-activates
    ids = [
        r["id"] for r in store.ivf_index(
            None, "emb", n_centroids=32, iters=2
        ).select("id").collect()
    ]
    # the source family's rows PLUS the in-flight epoch's, exactly
    # once each: the epoch moved families with its name, nothing
    # lost, nothing double-counted
    assert len(ids) == len(set(ids)) == n0 + 3
    assert {96000, 96001, 96002} <= set(ids)
    res = store.validate_ivf("emb", n_centroids=32, iters=2)
    assert res["ok"]
    # source family GC'd by the clean re-run: warning gone
    assert res["warnings"] == []


def test_rescale_rerun_exclude_authority_follows_active_marker(
    spark, emb, ivf_store
):
    """The exclude epoch's authoritative copy is on whichever family
    the ACTIVE marker points at (at-least-once replays follow it).
    Target active + live target copy → the re-run PRESERVES the
    target's own rows by re-assigning them (a source-less epoch on
    the active family is recoverable, not refused). Target NOT
    active + no source twin → refuse: the target copy is
    unaccounted-for and the rebuild has nothing authoritative to
    rebuild it from (third-review finding)."""
    store = ivf_store
    dim = len(emb.first()["embedding"])
    n0 = store.ivf_index(None, "emb", n_centroids=8, iters=2).count()
    store.ivf_rescale("emb", n_centroids=8, iters=2, new_n_centroids=32)
    store.ivf_index(emb, "emb", n_centroids=8, iters=2)
    post_activation = local_df(
        spark,
        [(98000 + i, [float(j == i) for j in range(dim)]) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    store.ivf_append(
        post_activation, "emb", "ep-x", n_centroids=32, iters=2
    )
    # the (32,2) family is ACTIVE: its live ep-x copy is
    # authoritative, and the re-run carries it into the rebuilt
    # family — nothing lost, nothing duplicated
    assert store.ivf_active("emb") == (32, 2)
    store.ivf_rescale(
        "emb", n_centroids=8, iters=2, new_n_centroids=32,
        exclude="ep-x",
    )
    ids = [
        r["id"] for r in store.ivf_index(
            None, "emb", n_centroids=32, iters=2
        ).select("id").collect()
    ]
    assert len(ids) == len(set(ids)) == n0 + 3
    assert {98000, 98001, 98002} <= set(ids)
    assert store.validate_ivf("emb", n_centroids=32, iters=2)["ok"]

    # now the NOT-active variant: same shape, but the active marker
    # points at the source — the target copy is unaccounted-for and
    # source-less, so the guard refuses
    store.ivf_index(emb, "emb", n_centroids=8, iters=2)
    store.ivf_append(
        post_activation, "emb", "ep-x2", n_centroids=32, iters=2
    )
    store.ivf_set_active("emb", 8, 2)
    with pytest.raises(ValueError, match="no source-family twin"):
        store.ivf_rescale(
            "emb", n_centroids=8, iters=2, new_n_centroids=32,
            exclude="ep-x2",
        )
    # nothing mutated: the epoch's vectors are still served
    ids2 = {
        r["id"] for r in store.ivf_index(
            None, "emb", n_centroids=32, iters=2
        ).select("id").collect()
    }
    assert {98000, 98001, 98002} <= ids2


def test_rescale_rerun_refuses_folded_sourceless_exclude(
    spark, emb, ivf_store
):
    """The source-less-exclude refusal must cover BOTH arms: an epoch
    folded into the TARGET's base by a later compact is just as lost
    by a rebuild as a live delta — and exempting it via exclude= when
    the source has no copy would discard it with validate_ivf still
    green (second-review finding)."""
    store = ivf_store
    dim = len(emb.first()["embedding"])
    store.ivf_rescale("emb", n_centroids=8, iters=2, new_n_centroids=32)
    store.ivf_index(emb, "emb", n_centroids=8, iters=2)
    post_activation = local_df(
        spark,
        [(98100 + i, [float(j == i) for j in range(dim)]) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    store.ivf_append(
        post_activation, "emb", "ep-y", n_centroids=32, iters=2
    )
    store.ivf_compact("emb", n_centroids=32, iters=2)  # ep-y → base
    # the epoch now lives only in the ACTIVE target's base; both the
    # plain re-run and the mislabeled exclude= re-run must refuse —
    # the authoritative rows are inseparable from the base a rebuild
    # would replace
    with pytest.raises(ValueError, match="ep-y"):
        store.ivf_rescale("emb", n_centroids=8, iters=2, new_n_centroids=32)
    with pytest.raises(ValueError, match="ACTIVE family's base"):
        store.ivf_rescale(
            "emb", n_centroids=8, iters=2, new_n_centroids=32,
            exclude="ep-y",
        )
    # and with the target NOT active the folded copy is still
    # source-less — refused on that ground instead
    store.ivf_set_active("emb", 8, 2)
    with pytest.raises(ValueError, match="no source-family twin"):
        store.ivf_rescale(
            "emb", n_centroids=8, iters=2, new_n_centroids=32,
            exclude="ep-y",
        )
    store.ivf_set_active("emb", 32, 2)
    ids = {
        r["id"] for r in store.ivf_index(
            None, "emb", n_centroids=32, iters=2
        ).select("id").collect()
    }
    assert {98100, 98101, 98102} <= ids  # nothing mutated


def test_rescale_rerun_allows_source_folded_exclude(spark, emb, ivf_store):
    """An in-flight epoch folded into the SOURCE base by a
    maintenance compact before the re-run is still a valid recovery
    WHEN THE SOURCE IS THE ACTIVE FAMILY (replays landed there, so
    its copy — now in its base — is authoritative): the rows ride
    the rebuilt base, and refusing would block the documented crash
    recovery with no valid path (second-review finding). The
    epoch's name stays in the replay ledger, so a late replay is
    refused exactly as after a compact. With the TARGET active the
    same layout refuses instead — the target's live copy would be
    duplicated by the source's folded rows (third-review finding)."""
    store = ivf_store
    dim = len(emb.first()["embedding"])
    n0 = store.ivf_index(None, "emb", n_centroids=8, iters=2).count()
    store.ivf_rescale("emb", n_centroids=8, iters=2, new_n_centroids=32)
    store.ivf_index(emb, "emb", n_centroids=8, iters=2)
    stale = local_df(
        spark,
        [(96100 + i, [float(j == i) for j in range(dim)]) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    # the crashed run's in-flight epoch, on both families...
    store.ivf_append(stale, "emb", "inflight-ep", n_centroids=32, iters=2)
    store.ivf_append(stale, "emb", "inflight-ep", n_centroids=8, iters=2)
    # ...then a source-side maintenance compact folds it there
    assert store.ivf_compact("emb", n_centroids=8, iters=2) == 1
    # with the TARGET active, its live copy is authoritative and the
    # source's folded rows would duplicate it in the rebuilt base
    assert store.ivf_active("emb") == (32, 2)
    with pytest.raises(ValueError, match="duplicate"):
        store.ivf_rescale(
            "emb", n_centroids=8, iters=2, new_n_centroids=32,
            exclude="inflight-ep",
        )
    # crashed-before-activation state: the SOURCE is active, its
    # (folded) copy authoritative — recovery proceeds
    store.ivf_set_active("emb", 8, 2)
    store.ivf_rescale(
        "emb", n_centroids=8, iters=2, new_n_centroids=32,
        exclude="inflight-ep",
    )
    ids = [
        r["id"] for r in store.ivf_index(
            None, "emb", n_centroids=32, iters=2
        ).select("id").collect()
    ]
    assert len(ids) == len(set(ids)) == n0 + 3
    assert {96100, 96101, 96102} <= set(ids)
    # folded-in-source means no longer replayable — same contract as
    # any folded epoch
    with pytest.raises(ValueError, match="folded"):
        store.ivf_append(
            stale, "emb", "inflight-ep", n_centroids=32, iters=2
        )
    assert store.validate_ivf("emb", n_centroids=32, iters=2)["ok"]


def test_rescale_refuses_midswap_target_base(spark, emb, ivf_store):
    """A target family whose base is parked mid-swap (crashed
    ivf_compact/ivf_retrain: base at __old, or present without
    _SUCCESS) has unreadable folded-epoch provenance — rescaling onto
    it would discard whatever that base held. Refuse with the
    recovery pointer instead (review finding: the completeness-gated
    guard previously SKIPPED all checks in exactly this state)."""
    store = ivf_store
    store.ivf_rescale("emb", n_centroids=8, iters=2, new_n_centroids=32)
    store.ivf_index(emb, "emb", n_centroids=8, iters=2)
    npath = store.ivf_index_path("emb", 32, 2)
    os.rename(npath, npath + "__old")  # crashed between the two renames
    with pytest.raises(ValueError, match="mid-swap"):
        store.ivf_rescale("emb", n_centroids=8, iters=2, new_n_centroids=32)
    os.rename(npath + "__old", npath)  # the documented recovery
    store.ivf_rescale("emb", n_centroids=8, iters=2, new_n_centroids=32)
    assert store.validate_ivf("emb", n_centroids=32, iters=2)["ok"]


def test_rescale_rerun_recovers_midswap_exclude_delta(spark, emb, ivf_store):
    """r14 advice #1: a crash inside the exclude re-assign's
    replace_directory parks the epoch's last-committed copy at
    '<epoch>__old' in the TARGET DELTA ROOT with the live dir
    missing. The re-run must recover it (rename back — the swap's
    documented recovery) and preserve its rows, not refuse it as a
    foreign live epoch whose advice (exclude='<epoch>__old') is a
    dead end. A stale post-swap '__old' (live dir present) is
    dropped. A FOREIGN epoch's '__old' still refuses — its rows are
    as unreproducible as any foreign delta's — naming rename-back."""
    import shutil

    store = ivf_store
    dim = len(emb.first()["embedding"])
    n0 = store.ivf_index(None, "emb", n_centroids=8, iters=2).count()
    store.ivf_rescale("emb", n_centroids=8, iters=2, new_n_centroids=32)
    store.ivf_index(emb, "emb", n_centroids=8, iters=2)  # source back
    epoch = local_df(
        spark,
        [(99000 + i, [float(j == i) for j in range(dim)]) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    store.ivf_append(epoch, "emb", "ep-z", n_centroids=32, iters=2)
    assert store.ivf_active("emb") == (32, 2)
    ndroot = store._delta_root(store.ivf_index_path("emb", 32, 2))
    # simulate the crash between the swap's two renames: live dir
    # gone, last-committed copy parked at __old
    os.rename(
        os.path.join(ndroot, "ep-z"), os.path.join(ndroot, "ep-z__old")
    )
    store.ivf_rescale(
        "emb", n_centroids=8, iters=2, new_n_centroids=32, exclude="ep-z",
    )
    ids = [
        r["id"] for r in store.ivf_index(
            None, "emb", n_centroids=32, iters=2
        ).select("id").collect()
    ]
    # the parked copy was recovered and re-assigned: its vectors are
    # served exactly once, nothing refused, nothing duplicated
    assert len(ids) == len(set(ids)) == n0 + 3
    assert {99000, 99001, 99002} <= set(ids)
    assert not os.path.exists(os.path.join(ndroot, "ep-z__old"))
    assert store.validate_ivf("emb", n_centroids=32, iters=2)["ok"]

    # stale post-swap leftover (__old AND live dir): the live dir is
    # the newer complete copy — the parking is dropped, the run
    # proceeds and the epoch's rows survive once
    store.ivf_index(emb, "emb", n_centroids=8, iters=2)
    store.ivf_append(epoch, "emb", "ep-z", n_centroids=32, iters=2)
    shutil.copytree(
        os.path.join(ndroot, "ep-z"), os.path.join(ndroot, "ep-z__old")
    )
    store.ivf_rescale(
        "emb", n_centroids=8, iters=2, new_n_centroids=32, exclude="ep-z",
    )
    ids = [
        r["id"] for r in store.ivf_index(
            None, "emb", n_centroids=32, iters=2
        ).select("id").collect()
    ]
    assert len(ids) == len(set(ids)) == n0 + 3
    assert not os.path.exists(os.path.join(ndroot, "ep-z__old"))

    # a FOREIGN epoch parked mid-swap refuses, and the advice names
    # the actual recovery instead of a dead-end exclude=
    store.ivf_index(emb, "emb", n_centroids=8, iters=2)
    store.ivf_append(epoch, "emb", "ep-w", n_centroids=32, iters=2)
    os.rename(
        os.path.join(ndroot, "ep-w"), os.path.join(ndroot, "ep-w__old")
    )
    with pytest.raises(ValueError, match="rename each back"):
        store.ivf_rescale(
            "emb", n_centroids=8, iters=2, new_n_centroids=32,
        )
    # nothing mutated: the parked copy is still there for recovery
    assert os.path.exists(os.path.join(ndroot, "ep-w__old"))
    shutil.rmtree(os.path.join(ndroot, "ep-w__old"))  # operator GC

    # SOURCE-side parking: a crashed epoch-commit swap on the source
    # family parks the exclude's twin at __old there; the re-run must
    # recover it instead of misresolving src_live_twin to False and
    # refusing "no source-family twin" on a recoverable store. The
    # target still holds its live ep-z copy from the earlier run —
    # exactly the crashed-before-activation shape, so the recovered
    # source twin is the authoritative copy and the target's is swept
    store.ivf_set_active("emb", 8, 2)
    store.ivf_append(epoch, "emb", "ep-z", n_centroids=8, iters=2)
    sdroot = store._delta_root(store.ivf_index_path("emb", 8, 2))
    os.rename(
        os.path.join(sdroot, "ep-z"), os.path.join(sdroot, "ep-z__old")
    )
    store.ivf_rescale(
        "emb", n_centroids=8, iters=2, new_n_centroids=32, exclude="ep-z",
    )
    ids = [
        r["id"] for r in store.ivf_index(
            None, "emb", n_centroids=32, iters=2
        ).select("id").collect()
    ]
    assert len(ids) == len(set(ids)) == n0 + 3
    assert {99000, 99001, 99002} <= set(ids)
    assert store.validate_ivf("emb", n_centroids=32, iters=2)["ok"]


def test_foreign_stale_old_refusal_advises_delete_not_rename(
    spark, emb, ivf_store
):
    """r15 advice #1: a FOREIGN '<epoch>__old' whose live dir IS
    present (crash after the swap's second rename, before cleanup)
    must refuse with delete-the-stale-parking advice — the previous
    unconditional 'its live dir is missing, rename each back' would
    have the operator regress the epoch to its OLDER parked copy."""
    import shutil

    store = ivf_store
    dim = len(emb.first()["embedding"])
    store.ivf_rescale("emb", n_centroids=8, iters=2, new_n_centroids=32)
    store.ivf_index(emb, "emb", n_centroids=8, iters=2)  # source back
    epoch = local_df(
        spark,
        [(98500 + i, [float(j == i) for j in range(dim)]) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    store.ivf_append(epoch, "emb", "ep-s", n_centroids=32, iters=2)
    ndroot = store._delta_root(store.ivf_index_path("emb", 32, 2))
    # post-swap stale parking: __old AND the (newer) live dir coexist
    shutil.copytree(
        os.path.join(ndroot, "ep-s"), os.path.join(ndroot, "ep-s__old")
    )
    with pytest.raises(ValueError) as ei:
        store.ivf_rescale(
            "emb", n_centroids=8, iters=2, new_n_centroids=32,
        )
    msg = str(ei.value)
    assert "delete each '__old' dir" in msg
    assert "ep-s__old" in msg
    # the mid-swap rename-back advice must NOT fire for this shape
    assert "rename each back" not in msg
    # nothing mutated: both dirs still on disk for the operator
    assert os.path.exists(os.path.join(ndroot, "ep-s"))
    assert os.path.exists(os.path.join(ndroot, "ep-s__old"))
    # mixed shape: add a genuinely mid-swap foreign parking — the
    # refusal must name BOTH recoveries, each against its own dirs
    store.ivf_append(epoch, "emb", "ep-t", n_centroids=32, iters=2)
    os.rename(
        os.path.join(ndroot, "ep-t"), os.path.join(ndroot, "ep-t__old")
    )
    with pytest.raises(ValueError) as ei:
        store.ivf_rescale(
            "emb", n_centroids=8, iters=2, new_n_centroids=32,
        )
    msg = str(ei.value)
    assert "rename each back" in msg and "ep-t__old" in msg
    assert "delete each '__old' dir" in msg and "ep-s__old" in msg


def test_retrain_recovers_midswap_parked_exclude(spark, emb, ivf_store):
    """ivf_retrain twin of the rescale recovery (r15 review): an
    exclude epoch parked at '<epoch>__old' by a crashed swap must be
    recovered (renamed back) BEFORE the retrain runs — a parked
    stand-in left in place would keep OLD-quantizer cell assignments
    after the quantizer moved, so probes would miss its vectors."""
    store = ivf_store
    dim = len(emb.first()["embedding"])
    n0 = store.ivf_index(None, "emb", n_centroids=8, iters=2).count()
    epoch = local_df(
        spark,
        [(97000 + i, [float(j == i) for j in range(dim)]) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    store.ivf_append(epoch, "emb", "ep-r", n_centroids=8, iters=2)
    droot = store._delta_root(store.ivf_index_path("emb", 8, 2))
    os.rename(
        os.path.join(droot, "ep-r"), os.path.join(droot, "ep-r__old")
    )
    store.ivf_retrain("emb", n_centroids=8, iters=2, exclude="ep-r")
    ids = [
        r["id"] for r in store.ivf_index(
            None, "emb", n_centroids=8, iters=2
        ).select("id").collect()
    ]
    assert len(ids) == len(set(ids)) == n0 + 3
    assert {97000, 97001, 97002} <= set(ids)
    assert not os.path.exists(os.path.join(droot, "ep-r__old"))
    # the re-binned epoch delta is probe-consistent with the new
    # quantizer: fsck green
    assert store.validate_ivf("emb", n_centroids=8, iters=2)["ok"]


def test_ivf_append_recovers_parked_base_precondition(spark, emb, ivf_store):
    """ivf_append on an index base parked by a crashed maintenance
    swap must recover it and commit the epoch — not refuse with the
    dead-end "no IVF index; build it first" (the streaming vector
    ingest's compact_every path makes a crashed compact followed by
    the next epoch's append routine)."""
    store = ivf_store
    ipath = store.ivf_index_path("emb", 8, 2)
    os.rename(ipath, ipath + "__old")

    epoch = emb.limit(3).select(
        (F.col("vec_id") + 900000).alias("vec_id"), "embedding"
    )
    store.ivf_append(epoch, "emb", "ep1", n_centroids=8, iters=2)
    assert not os.path.exists(ipath + "__old")
    idx = store.ivf_index(None, "emb", n_centroids=8, iters=2)
    assert idx.filter(F.col("id") >= 900000).count() == 3
    assert store.validate_ivf("emb", n_centroids=8, iters=2)["ok"]


def test_ivf_active_reads_parked_marker(spark, ivf_store):
    """A crashed ivf_set_active swap can leave the active-family
    marker parked at ``__old`` with the live dir missing. ivf_active
    must read the parked copy (pure read, no lease) — answering
    "no marker" would silently redirect n_centroids=None consumers to
    the DEFAULT family key mid-crash. A later writer re-stamp
    restores the live marker."""
    store = ivf_store
    active = store.ivf_active("emb")
    assert active == (8, 2)  # first-build stamp
    mpath = store.ivf_active_path("emb")
    os.rename(mpath, mpath + "__old")

    assert store.ivf_active("emb") == active  # parked copy stands in

    store.ivf_set_active("emb", *active)  # writer recovers + re-stamps
    assert store.ivf_active("emb") == active
    assert os.path.exists(mpath) and not os.path.exists(mpath + "__old")


def test_ivf_families_sees_through_swap_parking(spark, ivf_store):
    """Family discovery over the on-disk layout must read the swap
    machinery's sibling dirs as machinery, not families (found by the
    ivf_compact crash fuzz: the int parse crashed on a stale
    ``iters=2__old``): a COMPLETE parked copy stands in for its bare
    name when the live dir is missing (mid-swap crash), is ignored
    when the live dir is present (stale parking a crash left behind),
    and ``__staging``/``__delta`` dirs never count as families."""
    import shutil

    store = ivf_store
    ipath = store.ivf_index_path("emb", 8, 2)
    # stale parking: live AND parked present -> one family, no crash
    shutil.copytree(ipath, ipath + "__old")
    assert store.ivf_families("emb") == [(8, 2)]
    # a staging leftover is never committed state
    shutil.copytree(ipath, ipath + "__staging")
    assert store.ivf_families("emb") == [(8, 2)]
    # mid-swap: live missing -> the parked copy stands in
    shutil.rmtree(ipath + "__old")
    os.rename(ipath, ipath + "__old")
    assert store.ivf_families("emb") == [(8, 2)]
    os.rename(ipath + "__old", ipath)
    shutil.rmtree(ipath + "__staging")
    assert store.validate_ivf("emb", n_centroids=8, iters=2)["ok"]


def test_roundtrip_rescale_never_self_orphans(spark, emb, ivf_store):
    """A→B→A' round trip: carrying B's _rescaled_from_A marker into
    A' verbatim would stamp the new serving family as its own orphan
    — ivf_orphans would tell the operator to GC the live index
    forever. The carry skips markers naming the product's own key
    (review finding)."""
    store = ivf_store
    store.ivf_rescale("emb", n_centroids=8, iters=2, new_n_centroids=32)
    store.ivf_rescale("emb", n_centroids=32, iters=2, new_n_centroids=8)
    assert store.ivf_families("emb") == [(8, 2)]
    assert store.ivf_orphans("emb") == []
    fsck = store.validate_ivf("emb", n_centroids=8, iters=2)
    assert fsck["ok"] and fsck["warnings"] == []


def test_rescale_marker_survives_compact_and_retrain(spark, emb, ivf_store):
    """`_rescaled_from` provenance rides base REWRITES: ivf_compact
    and ivf_retrain rebuild the index base via a staged swap, and a
    swap that dropped the marker would (a) blind ivf_orphans to the
    leftover source family and (b) make a crashed-rescale re-run
    misread its own product as an independent sibling (r13 advice).
    And once an epoch is FOLDED into the product family's base, a
    rescale re-run refuses — rebuilding from the source would
    silently discard that epoch's vectors, and the refusal must
    happen BEFORE any artifact mutates (the review finding: the old
    guard ran after the centroid publish)."""
    store = ivf_store
    dim = len(emb.first()["embedding"])
    store.ivf_rescale("emb", n_centroids=8, iters=2, new_n_centroids=32)
    # crashed-before-GC shape: source family back on disk
    store.ivf_index(emb, "emb", n_centroids=8, iters=2)
    assert store.ivf_orphans("emb") == [(8, 2)]

    # compact rewrites the product family's base — marker must ride
    extra = local_df(
        spark,
        [(97000 + i, [float(j == i) for j in range(dim)]) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    store.ivf_append(extra, "emb", "ep-a", n_centroids=32, iters=2)
    assert store.ivf_compact("emb", n_centroids=32, iters=2) == 1
    assert store.ivf_orphans("emb") == [(8, 2)]

    # retrain rewrites it again — marker must still ride
    store.ivf_retrain("emb", n_centroids=32, iters=2)
    assert store.ivf_orphans("emb") == [(8, 2)]

    # ep-a now lives ONLY in the product family's base (its delta dir
    # was folded away): a re-run of the rescale would discard those
    # vectors, so it must refuse — with the folded-epoch diagnosis,
    # NOT the 'independent family' raise a dropped marker would give
    centroids_before = store.ivf_centroids(
        None, "emb", n_centroids=32, iters=2
    ).tolist()
    with pytest.raises(ValueError, match="folded-into-base.*ep-a"):
        store.ivf_rescale("emb", n_centroids=8, iters=2, new_n_centroids=32)
    # the refusal mutated NOTHING: centroids identical, family valid,
    # ep-a's vectors still served
    assert store.ivf_centroids(
        None, "emb", n_centroids=32, iters=2
    ).tolist() == centroids_before
    assert store.validate_ivf("emb", n_centroids=32, iters=2)["ok"]
    ids = {
        r["id"] for r in store.ivf_index(
            None, "emb", n_centroids=32, iters=2
        ).select("id").collect()
    }
    assert {97000, 97001, 97002} <= ids


def test_chained_rescale_keeps_orphan_provenance(spark, emb, ivf_store):
    """A→B→C rescale chain: B's GC must not erase the record that A
    was B's source — ivf_rescale carries the SOURCE family's own
    `_rescaled_from` markers into the product, so a still-orphaned A
    stays visible to ivf_orphans after B is gone (review finding)."""
    store = ivf_store
    store.ivf_rescale("emb", n_centroids=8, iters=2, new_n_centroids=32)
    # crash-before-GC shape for the FIRST rescale: A back on disk
    store.ivf_index(emb, "emb", n_centroids=8, iters=2)
    assert store.ivf_orphans("emb") == [(8, 2)]
    # second rescale B(32)→C(16) completes cleanly and GC's B
    store.ivf_rescale("emb", n_centroids=32, iters=2, new_n_centroids=16)
    assert store.ivf_families("emb") == [(8, 2), (16, 2)]
    # A is still orphaned and still reported — via the chained marker
    assert store.ivf_orphans("emb") == [(8, 2)]
    fsck = store.validate_ivf("emb", n_centroids=16, iters=2)
    assert fsck["ok"] and fsck["counts"]["rescale_orphans"] == [(8, 2)]
    # but the chained record is ANCESTOR provenance, not a direct-
    # parent claim: a rescale FROM the (still on-disk, independently
    # rebuilt) 8-cell family onto C's key must refuse as an
    # independent-family collision, not wholesale-replace the serving
    # C as if it were this rescale's own crashed product
    with pytest.raises(ValueError, match="independent"):
        store.ivf_rescale("emb", n_centroids=8, iters=2, new_n_centroids=16)


def test_premarker_store_sibling_build_does_not_steal_active(
    spark, emb, ivf_store, ivf_store_dir
):
    """On a pre-marker store (family built before the active marker
    existed) an explicit sibling build must NOT stamp itself active:
    'first family becomes active' is checked on disk, so legacy
    n_centroids=None consumers keep falling back to their defaults
    instead of being silently redirected to the sibling."""
    import shutil

    store = ivf_store
    shutil.rmtree(os.path.join(ivf_store_dir, "ivf_active", "emb"))
    assert store.ivf_active("emb") is None

    store.ivf_index(emb, "emb", n_centroids=4, iters=2)
    assert store.ivf_families("emb") == [(4, 2), (8, 2)]
    assert store.ivf_active("emb") is None  # not stolen
    # resolution falls back to the caller defaults, not the sibling
    assert store.ivf_resolve("emb", None, None) == (16, 3)
