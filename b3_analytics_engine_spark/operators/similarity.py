"""Similarity search over embedding columns (array<float>).

Extension surface (BASELINE.json north star). Two tiers:

- **brute-force cosine top-k** — the exact baseline. Query set ⋈
  corpus with a broadcast of the (small) query side; dot products as
  pure SQL array folds (zip_with + aggregate) inside codegen, then
  per-query top-k via window. Exact, O(|Q|·N); right answer for
  |Q| small even at large N because the corpus is only scanned once,
  never shuffled.
- **LSH-bucketed (random hyperplane) ANN** — the scale path. Each
  vector gets a c-bit signature from sign(v·h_i) over deterministic
  pseudo-random hyperplanes; candidates share a signature bucket
  (multi-probe over t independent tables). Turns all-pairs search
  into an equi-join on (table, bucket). Recall tunable by
  (bits, tables); verified against brute force in tests.

All vectors are cast to double before arithmetic so results are
bit-stable across engines (float32 accumulation order would not be).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .common import materialize


def _dbl(col: Column) -> Column:
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    # try_divide: zero-norm vectors → NULL (ANSI-safe, matches SQL)
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest corpus
    vectors (excluding itself when ids collide).

    Deterministic output: ties broken by corpus id ascending; cosine
    rounded to 6 dp. The query side is broadcast — the corpus (the
    100 TB side) streams through one scan, no shuffle of vectors; only
    (query_id, id, cos) triples shuffle into the per-query top-k
    window, and those are k-boundable by a partial TakeOrdered if k·|Q|
    grows.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(query_id_col), _dbl(F.col(vec_col)).alias("_qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _dbl(F.col(vec_col)).alias("_cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "neighbor_id",
            F.round(cosine(F.col("_qv"), F.col("_cv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id", "cos_sim")
    )


def _hyperplanes(dim: int, bits: int, table: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes via an LCG —
    reproducible across runs and cluster retries (no RNG state)."""
    state = (seed * 1_000_003 + table) % ((1 << 61) - 1)
    planes = []
    for _ in range(bits):
        h = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            # map to [-1, 1)
            h.append((state / float(1 << 62)) - 1.0)
        planes.append(h)
    return planes


def rhp_buckets_udf(planes_by_table: list[list[list[float]]]):
    """Arrow-vectorized bucket assignment: returns a pandas UDF mapping
    an embedding column → array<long> of per-table bucket ids.

    One ``(batch × dim) @ (dim × tables·bits)`` float64 matmul per
    Arrow batch — the idiomatic Spark escape hatch for dense linear
    algebra the SQL expression layer can't vectorize.
    """
    P = np.asarray(
        [row for tbl in planes_by_table for row in tbl], dtype=np.float64
    )  # (tables*bits) × dim
    n_tables = len(planes_by_table)
    bits = len(planes_by_table[0])
    weights = 1 << np.arange(bits, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def buckets(v: pd.Series) -> pd.Series:
        M = np.asarray([np.asarray(x, dtype=np.float64) for x in v])
        D = M @ P.T  # n × (tables*bits)
        B = (D >= 0).reshape(len(M), n_tables, bits)
        vals = (B * weights).sum(axis=2)  # n × tables
        return pd.Series(list(vals))

    return buckets


def _bucketize(
    df: DataFrame,
    id_alias: str,
    vec_inner: str,
    dim: int,
    bits: int,
    tables: int,
    seed: int,
) -> DataFrame:
    """(id, vec) → (id, tbl, bucket) via one vectorized UDF pass."""
    planes = [_hyperplanes(dim, bits, t, seed) for t in range(tables)]
    udf = rhp_buckets_udf(planes)
    return df.select(
        id_alias, F.posexplode(udf(F.col(vec_inner))).alias("tbl", "bucket")
    )


def cosine_ann_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    bits: int = 8,
    tables: int = 12,
    multiprobe: int = 1,
    seed: int = 42,
) -> DataFrame:
    """ANN cosine top-k via random-hyperplane LSH with multiprobe.

    Candidates = corpus vectors sharing a (table, bucket) with the
    query — or a bucket within Hamming distance ``multiprobe`` of it —
    in ANY of ``tables`` signature tables; exact cosine then ranks
    candidates. Same output contract as :func:`cosine_topk_bruteforce`
    (recall < 1 by design; tests measure it). The bucket join is an
    equi-join → hash shuffle on (table, bucket), no all-pairs blowup.

    Multiprobe perturbs the QUERY side only (bits+1 probes per table),
    so the corpus index stays one row per (vector, table) — the
    standard trick to buy recall without growing the index. Defaults
    (8 bits × 12 tables × 1-probe) target ≳0.7 recall on the weakish
    neighbor similarities (cos ≈ 0.3-0.5) the fixture exhibits;
    corpora with strong near-dups can raise ``bits`` for sharper
    pruning.
    """
    from pyspark.sql import Window

    c = corpus.select(F.col(id_col).alias("neighbor_id"), _dbl(F.col(vec_col)).alias("_cv"))
    q = queries.select(F.col(query_id_col), _dbl(F.col(vec_col)).alias("_qv"))

    c_buckets = _bucketize(c, "neighbor_id", "_cv", dim, bits, tables, seed)
    q_buckets = _bucketize(q, query_id_col, "_qv", dim, bits, tables, seed)
    if multiprobe >= 1:
        # one explode emits the exact probe plus every 1-bit-flip probe
        # — a single plan branch (a union-per-flip re-evaluates the
        # bucketize UDF subtree once per leg)
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << i))
                for i in range(bits)
            ],
        )
        q_buckets = q_buckets.select(
            query_id_col, "tbl", F.explode(probes).alias("bucket")
        )

    cand = (
        c_buckets.join(F.broadcast(q_buckets), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id")
        .distinct()
    )
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), query_id_col)
        .select(
            query_id_col,
            "neighbor_id",
            F.round(cosine(F.col("_qv"), F.col("_cv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id", "cos_sim")
    )


def ivf_assignments(
    df: DataFrame,
    centroids: "np.ndarray",
    id_alias: str,
    vec_inner: str,
    nprobe: int = 1,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids (by
    cosine) — one Arrow-vectorized matmul per batch. Output:
    (id, cell)."""
    C = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @F.pandas_udf("array<int>")
    def cells(v: pd.Series) -> pd.Series:
        M = np.asarray([np.asarray(x, dtype=np.float64) for x in v])
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        sims = M @ C.T  # n × C
        top = np.argsort(-sims, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(top))

    return df.select(
        id_alias, F.explode(cells(F.col(vec_inner))).alias("cell")
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 5,
    max_train: int = 65536,
    seeding: str = "first",
) -> "np.ndarray":
    """Deterministic k-means (spherical Lloyd) for IVF cell centroids.

    The scale design is the standard IVF one (FAISS trains coarse
    quantizers the same way): the corpus is never iterated — ONE scan
    takes a deterministic hash-sample of ≲ ``max_train`` vectors
    (``max_train × dim`` doubles ≈ 32 MB at defaults, bounded no matter
    the corpus size), Lloyd runs in numpy on the driver, and the full
    corpus is only scanned once more for the final cell assignment in
    :func:`cosine_ann_ivf`. A distributed Lloyd over the full corpus
    would cost 2 jobs per iteration for no centroid-quality gain — cell
    quality needs a representative sample, not every vector.

    Deterministic: sample membership is ``xxhash64(id) % mod``,
    iteration is driver-local numpy. Empty cells keep their previous
    centroid. If the sample has fewer than ``n_centroids`` vectors,
    that many cells are produced instead.

    ``seeding``: ``"first"`` (default, and what every REGISTERED ANN
    query uses — do not change without re-verifying their hashes)
    takes the first ``n_centroids`` sample vectors by id; on a
    drifted distribution every seed then starts in the low-id (base)
    region, which is what bounded :meth:`~...signature_store.
    SignatureStore.ivf_retrain`'s repair depth in the r11 drift A/B.
    ``"spread"`` is the deterministic k-means++ analogue — a
    farthest-first traversal over the normalized sample (seed 0 = the
    first sample vector by id; each next seed = the sample point with
    the smallest maximum cosine to the seeds chosen so far, argmin
    tie-broken by index) — O(sample × n_centroids) driver flops, used
    by the drift-repair path so retrains can place cells wherever the
    CURRENT distribution lives.
    """
    v = corpus.select(
        F.col(id_col).alias("_id"), _dbl(F.col(vec_col)).alias("_v")
    )
    if max_train:
        n_rows = v.count()
        if n_rows > max_train:
            mod = n_rows // max_train + 1
            v = v.filter(
                F.pmod(F.xxhash64(F.col("_id")), F.lit(mod)) == 0
            )
    rows = v.collect()
    rows.sort(key=lambda r: r["_id"])
    X = np.asarray([r["_v"] for r in rows], dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    k = min(n_centroids, len(X))
    if seeding == "spread" and k > 1:
        seed_idx = [0]
        best = Xn @ Xn[0]  # max cosine to the chosen seed set
        for _ in range(1, k):
            nxt = int(np.argmin(best))
            seed_idx.append(nxt)
            best = np.maximum(best, Xn @ Xn[nxt])
        C = X[seed_idx].copy()
    elif seeding in ("first", "spread"):
        C = X[:k].copy()
    else:
        raise ValueError(f"unknown seeding {seeding!r}")
    for _ in range(iters):
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        cells = np.argmax(Xn @ Cn.T, axis=1)
        for j in range(len(C)):
            members = cells == j
            if members.any():
                C[j] = X[members].mean(axis=0)
    return C


def cosine_ann_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_centroids: int = 16,
    nprobe: int = 4,
    kmeans_iters: int = 3,
) -> DataFrame:
    """IVF (inverted-file) ANN: partition the corpus into
    ``n_centroids`` cells, search only the query's ``nprobe`` nearest
    cells. The second scale path next to RHP-LSH — better recall/cost
    when the corpus is clustered (each probe scans ~nprobe/C of the
    data instead of hash buckets).

    Cells come from :func:`kmeans_centroids` (deterministic seeding +
    ``kmeans_iters`` Lloyd rounds); pass ``kmeans_iters=0`` for raw
    first-N seeding. Output contract matches
    :func:`cosine_topk_bruteforce`.
    """
    from pyspark.sql import Window

    centroids = kmeans_centroids(
        corpus, n_centroids, id_col=id_col, vec_col=vec_col,
        iters=kmeans_iters,
    )

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _dbl(F.col(vec_col)).alias("_cv")
    )
    q = queries.select(F.col(query_id_col), _dbl(F.col(vec_col)).alias("_qv"))
    c_cells = ivf_assignments(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v")),
        centroids, "neighbor_id", "_v", nprobe=1,
    )
    q_cells = ivf_assignments(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("_v")),
        centroids, query_id_col, "_v", nprobe=nprobe,
    )
    cand = (
        c_cells.join(F.broadcast(q_cells), "cell")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id")
        .distinct()
    )
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), query_id_col)
        .select(
            query_id_col,
            "neighbor_id",
            F.round(cosine(F.col("_qv"), F.col("_cv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id", "cos_sim")
    )


def cosine_ann_ivf_indexed(
    store,
    corpus: str,
    queries: DataFrame,
    k: int = 5,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    n_centroids: int | None = 16,
    nprobe: int = 4,
    kmeans_iters: int | None = 3,
    exclude_batch: str | None = None,
) -> DataFrame:
    """IVF ANN against a PERSISTED index — the production twin of
    :func:`cosine_ann_ivf`, which trains + assigns from the corpus
    frame on every call. Here the coarse quantizer and the
    cell-partitioned ``(cell, id, v)`` inverted file live in a
    :class:`..signature_store.SignatureStore` (``ivf_index`` /
    ``ivf_append``): a probe loads the tiny centroid table, assigns
    the query vectors (one Arrow matmul over the SMALL side), collects
    the ≤ ``n_centroids`` probed cell ids, and reads ONLY those cell
    directories — Spark partition pruning is the inverted-file read.
    Per-probe cost is O(cells probed), independent of corpus size;
    daily embedding batches enter via O(batch) ``ivf_append`` deltas
    with no retrain. Row-identical to :func:`cosine_ann_ivf` on the
    same corpus/params (same deterministic training — pinned by
    ``tests/test_ivf_index.py``). ``n_centroids=None`` follows the
    store's active-family marker, so a probe service keeps working
    across an ``ivf_rescale`` without redeploying."""
    from pyspark.sql import Window

    n_centroids, kmeans_iters = store.ivf_resolve(
        corpus, n_centroids, kmeans_iters
    )
    C = store.ivf_centroids(
        None, corpus, n_centroids=n_centroids, iters=kmeans_iters
    )
    q = queries.select(F.col(query_id_col), _dbl(F.col(vec_col)).alias("_qv"))
    q_cells = ivf_assignments(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("_v")),
        C, query_id_col, "_v", nprobe=nprobe,
    )
    # bounded driver collect: ≤ n_centroids ints — the probe set
    probed = sorted(
        r["cell"] for r in q_cells.select("cell").distinct().collect()
    )
    idx = store.ivf_index(
        None, corpus, n_centroids=n_centroids, iters=kmeans_iters,
        exclude_batch=exclude_batch,
    ).filter(F.col("cell").isin(probed))
    # no distinct needed: ids are unique across base ∪ deltas (the
    # store's keying contract) and each lives in exactly one cell
    # (corpus-side nprobe=1), so a (query, neighbor) pair occurs once
    scored = (
        idx.join(F.broadcast(q_cells), "cell")
        .filter(F.col("id") != F.col(query_id_col))
        .join(F.broadcast(q), query_id_col)
        .select(
            query_id_col,
            F.col("id").alias("neighbor_id"),
            F.round(cosine(F.col("_qv"), F.col("v")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id", "cos_sim")
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.999,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    kmeans_iters: int = 3,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, find
    cosine ≥ ``threshold`` pairs ONLY within each cluster, take
    connected components of the pair graph, keep the minimum id per
    component.

    The third embedding-dedup strategy beside the exact all-pairs
    baseline (:func:`embedding_neardup_exact`) and RHP-LSH bucketing
    (:func:`embedding_neardup_pairs`) — the right one when the corpus
    is *clustered*: near-dups concentrate inside semantic clusters, so
    the quadratic pair join runs per-cell on ~N/C rows instead of
    hash buckets whose occupancy the data controls.

    100 TB scale design: centroids train on a bounded hash-sample
    (:func:`kmeans_centroids`, ≤32 MB driver numpy); the corpus is
    scanned once for cell assignment (one Arrow matmul per batch);
    the pair join is an equi-join on ``cell`` — one hash shuffle
    whose largest task is the largest cell, so ``n_clusters`` scales
    with the corpus to keep cells bounded (SemDeDup uses 50k clusters
    for LAION-scale; a skewed mega-cell is the signal to raise it, or
    to sub-bucket that cell with RHP-LSH). The component map is tiny
    vs the corpus (only docs with a ≥ threshold pair enter it) and
    broadcasts back onto the id set.

    Approximation contract: a cross-cell near-dup pair is MISSED by
    construction (identical vectors always share a nearest centroid,
    so exact duplicates are never missed; near-misses on a cell
    boundary can be). Tests measure recall against the exact pair
    graph; the registered query injects exact duplicates so the
    whole pipeline is SQL-oracle-checkable.

    Returns one row per input row: ``(id_col, component, keep)``
    where ``component`` is the min id of the doc's near-dup component
    (its own id when it has no ≥ threshold neighbor) and
    ``keep = (component == id)``.
    """
    from .dedup import connected_components

    centroids = kmeans_centroids(
        df, n_clusters, id_col=id_col, vec_col=vec_col, iters=kmeans_iters
    )
    v = df.select(F.col(id_col).alias("id"), _dbl(F.col(vec_col)).alias("_v"))
    cells = ivf_assignments(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v")),
        centroids,
        "id",
        "_v",
        nprobe=1,
    )
    # (id, cell, vec): one hash shuffle on id to attach vectors, then
    # the within-cell pair join shuffles on cell only; materialized
    # once — both self-join sides would otherwise re-run the
    # assignment UDF over the full corpus (stance 5b)
    m = cells.join(v, "id").transform(materialize)
    a = m.alias("a")
    b = m.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .withColumn(
            "cos_sim", F.round(cosine(F.col("a._v"), F.col("b._v")), 6)
        )
        .filter(F.col("cos_sim") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    comp = connected_components(pairs, "id_a", "id_b")
    ids = v.select("id")
    return (
        ids.join(comp, ids["id"] == comp["node"], "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("component"), F.col("id")).alias("component"),
            (F.coalesce(F.col("component"), F.col("id")) == F.col("id")).alias(
                "keep"
            ),
        )
    )


def embedding_neardup_exact(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs (cos ≥ threshold,
    ``id_a < id_b``) — the all-pairs baseline that
    :func:`embedding_neardup_pairs` (RHP-LSH) approximates.

    O(N²) dot products via a broadcast nested-loop self-join: the
    corpus streams once against a broadcast copy, so there is no
    shuffle — but the pair space itself is quadratic. Right tool for
    (a) recall measurement of the LSH path, (b) corpora small enough
    that N² · dim flops are acceptable (≲10⁵ rows). Beyond that,
    bucket first (LSH/IVF) and verify exactly within buckets.

    Same deterministic arithmetic as :func:`cosine_topk_bruteforce`
    (double-cast fold, round(6)) so a DuckDB oracle reproduces every
    value.
    """
    v = df.select(F.col(id_col).alias("id"), _dbl(F.col(vec_col)).alias("_v"))
    a = v.alias("a")
    b = v.alias("b")
    sim = F.round(cosine(F.col("a._v"), F.col("b._v")), 6)
    return (
        a.join(F.broadcast(b), F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            sim.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 10,
    tables: int = 8,
    seed: int = 42,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ threshold) via the
    same RHP-LSH bucketing, self-join form (id_a < id_b).

    ``max_bucket``: optional hot-bucket cap (``dedup.drop_hot_buckets``
    contract — see ``minhash_lsh_pairs.max_band_bucket``): an RHP
    bucket holding B vectors (a dense embedding region, e.g. the
    near-zero vectors of empty docs) emits B(B−1)/2 candidates in one
    task. Pairs whose every shared (table, bucket) is hot are lost —
    members of ≥cap-size near-identical regions, exact dedup's tier.
    None = exact parity with the registered oracle.
    """
    from .dedup import drop_hot_buckets

    v = df.select(F.col(id_col).alias("id"), _dbl(F.col(vec_col)).alias("_v"))
    # materialized once: both self-join sides read one bucketize pass
    buckets = _bucketize(v, "id", "_v", dim, bits, tables, seed).transform(materialize)
    if max_bucket is not None:
        buckets = drop_hot_buckets(buckets, ["tbl", "bucket"], max_bucket)
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = v.select(F.col("id").alias("id_a"), F.col("_v").alias("_va"))
    vb = v.select(F.col("id").alias("id_b"), F.col("_v").alias("_vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_sim", F.round(cosine(F.col("_va"), F.col("_vb")), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def _h60(expr: Column) -> Column:
    """60-bit md5-derived hash of a string expression — deterministic
    across engines (DuckDB replay:
    ``('0x' || substr(md5(expr), 1, 15))::BIGINT``)."""
    return F.conv(F.substring(F.md5(expr), 1, 15), 16, 10).cast("long")


def negative_sampling(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_buckets: int = 64,
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Deterministic contrastive negative sampling: for each query
    row, ``k`` pseudo-random corpus rows with a DIFFERENT label — the
    negatives a contrastive-training pipeline pairs with each anchor.

    Scale design: a true uniform draw would need a global shuffle (or
    driver-side sampling) per epoch. Instead every corpus row is
    assigned a stable md5 hash bucket once; each (query, probe j)
    derives a target bucket from ``md5(query:j)`` and equi-joins into
    it, then keeps the candidate minimizing ``md5(query:j:cand)``.
    Everything is a pure function of the row ids, so retries, other
    engines, and epoch replays agree; bumping the probe-salt is a
    fresh epoch of negatives with zero state. One equi-join on the
    bucket key + a per-(query, probe) top-1 window over one bucket's
    rows (~N / n_buckets — size the knob so a bucket fits an
    executor; at 100 TB use 2^20 buckets, not 64).

    Returns ``(query_id, probe, neg_id, neg_label)``; a probe whose
    bucket holds no eligible candidate yields no row (deterministic).
    """
    from pyspark.sql import Window

    c = corpus.select(
        F.col(id_col).alias("neg_id"),
        F.col(label_col).alias("neg_label"),
        F.pmod(
            _h60(F.concat(F.col(id_col).cast("string"), F.lit(":nb"))),
            F.lit(n_buckets),
        ).alias("bucket"),
    )
    probes = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(label_col).alias("q_label"),
        )
        .select(
            "*",
            F.explode(
                F.sequence(F.lit(0), F.lit(k - 1))
            ).alias("_probe_i"),
        )
        .withColumn("probe", F.col("_probe_i").cast("long"))
        .drop("_probe_i")
        .withColumn(
            "bucket",
            F.pmod(
                _h60(
                    F.concat(
                        F.col("query_id").cast("string"),
                        F.lit(":"),
                        F.col("probe").cast("string"),
                        F.lit(":probe"),
                    )
                ),
                F.lit(n_buckets),
            ),
        )
    )
    cand = (
        probes.join(c, "bucket")
        .filter(
            (F.col("neg_id") != F.col("query_id"))
            & (F.col("neg_label") != F.col("q_label"))
        )
        .withColumn(
            "pick",
            _h60(
                F.concat(
                    F.col("query_id").cast("string"),
                    F.lit(":"),
                    F.col("probe").cast("string"),
                    F.lit(":"),
                    F.col("neg_id").cast("string"),
                )
            ),
        )
    )
    w = Window.partitionBy("query_id", "probe").orderBy("pick", "neg_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", "probe", "neg_id", "neg_label")
    )
