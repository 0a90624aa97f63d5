"""The incremental pipeline (SURVEY.md §3 E2) as Structured Streaming.

Reference topology (per minute, reference dags/market_data_pipeline.py:44-82):
two quote feeds → Kafka → drain both topics → latest-per-symbol
snapshot join → enrich → re-window against 40 days of warehouse
history → keep-last dedup → rolling metrics → full-replace warehouse.

Rebuild topology: ONE streaming query — the two feeds union into a
single tagged stream, and ``foreachBatch`` applies the exact batch
semantics below. Every function here is a pure DataFrame transform so
tests drive them with static micro-batches (no broker), and the
streaming wrapper is a thin trigger/checkpoint shell.

Semantics preserved (and made deterministic):
- T3: the reference re-reads topics from offset 0 each run and relies
  on dedup for idempotence. We keep the IDEMPOTENCE (warehouse_merge
  is a deterministic upsert — replaying a batch is a no-op) but use
  checkpointed offsets, so nothing is re-read.
- T5: late/corrected rows re-state history inside the bounded window
  (40 days) only. ``start_incremental`` re-reads that whole window on
  every micro-batch, merges the batch into it, and rewrites the whole
  warehouse directory (staged write + swap); rows older than the
  window drop out. A batch therefore costs O(window), not O(batch).
- T6: the reference conflates event time and processing time
  (``processed_at`` becomes the warehouse ``date``); we keep BOTH
  columns and parameterize the clock for reproducibility.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.aggregates import keep_last_dedup
from ..operators.joins import normalize_symbol, snapshot_join, union_history
from ..operators.rowops import falsy_guarded_diff, turnover_ratio
from ..operators.windows import rolling_mean


def enrich_quotes(
    brapi: DataFrame,
    yfinance: DataFrame,
    clock: Column | None = None,
) -> DataFrame:
    """J1/J2 + P9/P10/F4: latest-per-symbol snapshot join of the two
    feeds, derive change_day (falsy-guarded — the reference's Python
    truthiness treats open==0.0 as missing,
    reference include/tasks/data_processing.py:66-83), stamp
    processed_at.

    ``brapi`` must carry ``_ingest_ts`` (the Kafka message timestamp —
    "latest" on that feed is arrival order, exactly the reference's
    dict-overwrite); ``yfinance`` orders by its event-time
    ``timestamp`` column.
    """
    joined = snapshot_join(
        brapi,
        yfinance,
        key="symbol",
        left_ts="_ingest_ts",
        right_ts="timestamp",
        right_key_normalizer=lambda c: normalize_symbol(c),
        left_tiebreak=None,
        right_tiebreak=None,
    )
    processed_at = clock if clock is not None else F.current_timestamp()
    return joined.select(
        "symbol",
        "longName",
        "regularMarketPrice",
        "regularMarketChange",
        "regularMarketChangePercent",
        "marketCap",
        "open",
        "high",
        "low",
        "close",
        "volume",
        falsy_guarded_diff("close", "open").alias("change_day"),
        processed_at.alias("processed_at"),
    )


def calculate_metrics(df: DataFrame) -> DataFrame:
    """The reference's calculate_metrics
    (reference include/tasks/data_warehouse.py:10-27): per-symbol
    date-ordered SMA-5/SMA-20 (min_periods=1), turnover ratio, nulls
    filled with 0."""
    out = rolling_mean(df, "close", "symbol", "date", 5, "sma_5")
    out = rolling_mean(out, "close", "symbol", "date", 20, "sma_20")
    out = out.withColumn(
        "turnover_ratio", turnover_ratio("volume", "close", "marketCap")
    )
    return out.na.fill(0, subset=["sma_5", "sma_20", "turnover_ratio"])


def warehouse_merge(
    history: DataFrame, new_batch: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """T5/A1/J3: bounded-history union + deterministic keep-last dedup
    + metric recompute. New-batch rows beat history on key collision
    (explicit priority — the reference relied on pandas concat order,
    reference include/tasks/data_warehouse.py:73-74).

    Idempotent: merging the same batch twice yields an identical
    table, which is what makes at-least-once delivery safe.
    """
    keys = keys or ["symbol", "date"]
    h = history.withColumn("_src_priority", F.lit(0))
    n = new_batch.withColumn("_src_priority", F.lit(1))
    merged = union_history(h, n)
    deduped = keep_last_dedup(merged, keys, [F.col("_src_priority")]).drop(
        "_src_priority"
    )
    return calculate_metrics(deduped)


def enriched_to_warehouse_rows(enriched: DataFrame) -> DataFrame:
    """P9/P6: enriched records → warehouse rows (processed_at → date,
    reference include/tasks/data_warehouse.py:61-63), with the P5
    numeric coercions and P7 null drop."""
    df = enriched.withColumnRenamed("processed_at", "date")
    df = df.withColumn("date", F.col("date").cast("timestamp"))
    for c in ("close", "volume", "marketCap"):
        df = df.withColumn(c, F.col(c).try_cast("double"))
    return df.na.drop(subset=["close", "volume", "marketCap", "date"])


def enriched_to_warehouse_rows_audited(
    enriched: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Audited variant of :func:`enriched_to_warehouse_rows`: identical
    coercions, but the rows the reference silently drops (nulls after
    try_cast — include/tasks/data_warehouse.py:58) are ROUTED to a
    quarantine frame annotated with which fields were missing, instead
    of vanishing. The clean side is row-identical to the silent
    version (asserted in tests), so the pipeline can switch to the
    audited path without changing warehouse contents — the upgrade a
    production feed owner actually wants when a vendor starts sending
    malformed quotes.
    """
    from ..operators.quality import quarantine_split

    df = enriched.withColumnRenamed("processed_at", "date")
    df = df.withColumn("date", F.col("date").cast("timestamp"))
    for c in ("close", "volume", "marketCap"):
        df = df.withColumn(c, F.col(c).try_cast("double"))
    checks = {
        f"{c}_present": F.col(c).isNotNull()
        for c in ("close", "volume", "marketCap", "date")
    }
    return quarantine_split(df, checks)


def process_micro_batch(
    tagged_batch: DataFrame,
    history: DataFrame | None = None,
    clock: Column | None = None,
) -> DataFrame:
    """One E2 micro-batch end-to-end (the foreachBatch body):
    tagged union of the two feeds → split → enrich → warehouse rows →
    bounded-history merge. Returns the new warehouse table slice.

    ``tagged_batch`` columns: ``_feed`` ('brapi'|'yfinance') + the
    union of both feeds' columns (unused side null).
    """
    from ..schemas import BRAPI_QUOTE, YFINANCE_QUOTE

    brapi_cols = [f.name for f in BRAPI_QUOTE.fields] + ["_ingest_ts"]
    yfin_cols = [f.name for f in YFINANCE_QUOTE.fields]
    brapi = tagged_batch.filter(F.col("_feed") == "brapi").select(*brapi_cols)
    yfin = tagged_batch.filter(F.col("_feed") == "yfinance").select(*yfin_cols)
    enriched = enrich_quotes(brapi, yfin, clock=clock)
    new_rows = enriched_to_warehouse_rows(enriched)
    if history is None:  # first run: empty history with warehouse schema
        history = new_rows.sparkSession.createDataFrame([], new_rows.schema)
    return warehouse_merge(history, new_rows)


def start_incremental(
    spark,
    stream_df: DataFrame,
    warehouse_path: str,
    checkpoint: str,
    history_days: int = 40,
    trigger: dict | None = None,
):
    """Wire the streaming shell: tagged stream → foreachBatch(E2) →
    warehouse overwrite. ``trigger`` defaults to availableNow (T2
    drain-then-stop); pass {"processingTime": "60 seconds"} for the
    reference's cadence (T1)."""

    def _run(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.errors import AnalysisException

        from ..sinks.files import recover_parked_directory, replace_directory

        # An at-least-once retry after a crash BETWEEN the swap's two
        # renames finds the warehouse path missing with the whole
        # history parked at __old. Without restoring it first, the
        # read below answers PATH_NOT_FOUND, the first-run branch
        # rebuilds the table from this one micro-batch, and the swap
        # sweeps the parked history as a stale leftover — permanent
        # loss of the 40-day table.
        recover_parked_directory(spark, warehouse_path)
        try:
            history = spark.read.parquet(warehouse_path).filter(
                F.col("date")
                >= F.current_timestamp() - F.expr(f"INTERVAL {history_days} DAYS")
            )
        except AnalysisException as e:
            # Only a genuinely-absent warehouse means first run; any
            # other read failure (permissions, corrupt footer, partial
            # directory) must fail the batch — treating it as first run
            # would silently rebuild the table from one micro-batch and
            # permanently drop the 40-day history.
            if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
                raise
            history = None
        out = process_micro_batch(batch_df, history)
        # Stage the merged table next to the live one, then swap. The
        # old warehouse stays intact until the new copy is fully
        # committed, so a crash mid-write never destroys the only copy
        # of the history, and the staged write can read the live
        # warehouse it is derived from (overwrite-in-place would race
        # its own input). On the at-least-once retry the swap is
        # simply redone from a fresh stage — idempotent (T5).
        staging = warehouse_path.rstrip("/") + "__staging"
        out.write.mode("overwrite").parquet(staging)
        replace_directory(spark, staging, warehouse_path)

    writer = stream_df.writeStream.foreachBatch(_run).option(
        "checkpointLocation", checkpoint
    )
    t = trigger or {"availableNow": True}
    return writer.trigger(**t).start()


def dedup_stream(
    stream: DataFrame,
    keys: list[str],
    event_time_col: str = "ts",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """At-least-once → effectively-once: drop duplicate ``keys`` rows
    arriving within ``watermark_delay`` of each other.

    The reference achieves idempotence by re-reading the whole topic
    and keep-last dedup over 40 days of history every minute
    (reference include/tasks/data_warehouse.py:53,74) — unbounded
    state recomputed per run. ``dropDuplicatesWithinWatermark`` keeps
    the same guarantee with BOUNDED state: a key is remembered only
    until the watermark passes it, so state size tracks the delay
    window, not the table — the property that matters when the stream
    is 100 TB/day. Works on any append stream; emits first-seen rows.
    """
    return stream.withWatermark(
        event_time_col, watermark_delay
    ).dropDuplicatesWithinWatermark(keys)


def incremental_dedup_micro_batch(
    batch_df: DataFrame,
    epoch_id: int,
    store,
    corpus: str,
    output_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    compact_every: int | None = None,
) -> None:
    """``foreachBatch`` body of :func:`start_incremental_dedup` — one
    epoch of continuous corpus growth. Exposed at module level so
    tests (and batch backfills) can drive it directly with static
    frames, the same pattern as :func:`process_micro_batch`.

    Per epoch: dedup the micro-batch against the persisted corpus
    snapshot (:func:`..pipelines.incremental_dedup` — corpus side is
    artifact scans only, never an O(corpus) re-tokenize), commit the
    survivors' artifact rows as the ``epoch-<id>`` delta, and publish
    the survivors to the corpus lake under an ``_epoch=<id>``
    partition.

    Replay-idempotent end to end (T3's at-least-once contract): on a
    re-run of the same epoch the dedup computation EXCLUDES the
    epoch's own delta from the corpus reads (so the batch never
    matches itself), the re-commit replaces that delta wholesale, and
    the lake write dynamic-partition-overwrites only ``_epoch=<id>``
    (``partitionOverwriteMode=dynamic`` is pinned on the write itself,
    so the contract holds on a user-supplied session without
    ``session.py``'s default; pinned by
    ``tests/test_incremental_dedup.py``).

    ``compact_every``: every N epochs, fold accumulated store deltas
    into the artifact bases (``SignatureStore.compact``) so a stream
    that runs for months keeps O(artifacts) files, not O(epochs).
    Safe inside the epoch body: ``foreachBatch`` epochs are
    serialized, so no append races, and epochs before this one can no
    longer replay — the current epoch's OWN delta is excluded from
    the fold (``exclude=``) because this epoch still can, and a
    replay's ``exclude_batch`` read cannot hide rows already folded
    into the base.
    """
    from .. import pipelines as P

    if batch_df.isEmpty():
        return
    name = f"epoch-{int(epoch_id)}"
    survivors = P.incremental_dedup(
        batch_df,
        store,
        corpus,
        id_col=id_col,
        text_col=text_col,
        threshold=threshold,
        commit_batch=name,
    )
    (
        survivors.withColumn("_epoch", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        # dynamic pinned PER-WRITE: on a user-supplied session without
        # session.py's default, static mode would wipe every previously
        # published epoch from output_path on each overwrite
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_epoch")
        .parquet(output_path)
    )
    survivors.unpersist()
    if compact_every and int(epoch_id) % compact_every == compact_every - 1:
        store.compact(corpus, exclude=name)


def start_incremental_dedup(
    stream_df: DataFrame,
    store,
    corpus: str,
    output_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    trigger: dict | None = None,
    compact_every: int | None = None,
):
    """Continuous dedup ingestion: an append stream of new documents →
    ``foreachBatch`` → :func:`incremental_dedup_micro_batch`. Each
    micro-batch is deduplicated against the ever-growing corpus
    snapshot and committed as an O(batch) delta — the streaming twin
    of the daily-batch :func:`..pipelines.incremental_dedup` workflow,
    and what "dedup 100 TB/day as it lands" actually looks like:
    per-epoch cost tracks the epoch's data, never the corpus.

    The corpus base artifacts must exist before the stream starts
    (build them once with ``corpus_dedup(..., store=...)`` or the
    store accessors); a missing base fails the first epoch loudly
    rather than silently treating history as empty. ``trigger``
    defaults to availableNow (T2 drain-then-stop); pass
    ``{"processingTime": "60 seconds"}`` for a T1 cadence.

    Each epoch mutates the store under its per-corpus write LEASE
    (``SignatureStore.lock``), so an independent batch job touching
    the same corpus fails loudly instead of interleaving with the
    stream. Build the store with a STABLE ``owner`` (e.g. derived
    from ``checkpoint``) so a crash-restart ADOPTS a lease the dead
    run left behind and replays; a store with the default random
    owner would refuse its own replacement until ``break_lock``.
    """

    def _run(batch_df: DataFrame, epoch_id: int) -> None:
        incremental_dedup_micro_batch(
            batch_df, epoch_id, store, corpus, output_path,
            id_col=id_col, text_col=text_col, threshold=threshold,
            compact_every=compact_every,
        )

    writer = stream_df.writeStream.foreachBatch(_run).option(
        "checkpointLocation", checkpoint
    )
    t = trigger or {"availableNow": True}
    return writer.trigger(**t).start()


def ivf_append_micro_batch(
    batch_df: DataFrame,
    epoch_id: int,
    store,
    corpus: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    iters: int | None = None,
    compact_every: int | None = None,
) -> None:
    """``foreachBatch`` body of :func:`start_ivf_append` — one epoch of
    continuous vector-index growth, the embedding twin of
    :func:`incremental_dedup_micro_batch`. Exposed at module level so
    tests and batch backfills can drive it with static frames.

    Per epoch: assign the batch against the PERSISTED coarse quantizer
    (no retrain — standard IVF) and commit it as the ``epoch-<id>``
    cell-partitioned delta (``SignatureStore.ivf_append``), so the
    next probe's partition pruning sees base + all committed epochs.
    O(batch) per epoch, independent of index size.

    Replay-idempotent (T3): ``ivf_append`` replaces the epoch's delta
    wholesale on a re-commit, and ``compact_every`` compacts with
    ``exclude=`` the current epoch so a replayed epoch's name is never
    folded-refused — the same epoch-lifecycle contract as the dedup
    stream, sharing its lease/owner recovery story (build the store
    with a checkpoint-derived owner)."""
    if batch_df.isEmpty():
        return
    # None follows the store's active-family marker (ivf_rescale
    # adoption without stopping the stream); explicit values pin
    n_centroids, iters = store.ivf_resolve(corpus, n_centroids, iters)
    name = f"epoch-{int(epoch_id)}"
    store.ivf_append(
        batch_df, corpus, name,
        id_col=id_col, vec_col=vec_col,
        n_centroids=n_centroids, iters=iters,
    )
    if compact_every and int(epoch_id) % compact_every == compact_every - 1:
        store.ivf_compact(
            corpus, n_centroids=n_centroids, iters=iters, exclude=name
        )


def start_ivf_append(
    stream_df: DataFrame,
    store,
    corpus: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    iters: int | None = None,
    trigger: dict | None = None,
    compact_every: int | None = None,
):
    """Continuous vector ingestion into the persisted IVF index: an
    append stream of ``(id, embedding)`` rows → ``foreachBatch`` →
    :func:`ivf_append_micro_batch` — what "index 100 TB of embeddings
    as they land" looks like: probes stay O(cells-probed) while the
    index grows by O(batch) deltas per epoch, compacted every
    ``compact_every`` epochs to keep file counts O(cells).

    The index base (and its trained centroids) must exist before the
    stream starts (``SignatureStore.ivf_index`` with the corpus
    frame); a missing base fails the first epoch loudly rather than
    silently seeding an index from one micro-batch."""

    def _run(batch_df: DataFrame, epoch_id: int) -> None:
        ivf_append_micro_batch(
            batch_df, epoch_id, store, corpus,
            id_col=id_col, vec_col=vec_col,
            n_centroids=n_centroids, iters=iters,
            compact_every=compact_every,
        )

    writer = stream_df.writeStream.foreachBatch(_run).option(
        "checkpointLocation", checkpoint
    )
    t = trigger or {"availableNow": True}
    return writer.trigger(**t).start()


def corpus_ingest_micro_batch(
    batch_df: DataFrame,
    epoch_id: int,
    store,
    corpus: str,
    output_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    semantic_threshold: float | None = None,
    n_centroids: int | None = None,
    iters: int | None = None,
    compact_every: int | None = None,
    retrain_balance: float | None = None,
    rescale_balance: float | None = None,
    rescale_occupancy: float | None = None,
) -> None:
    """One epoch of the FULL training-data ingest — the composition of
    :func:`incremental_dedup_micro_batch` and
    :func:`ivf_append_micro_batch` under ONE epoch name: dedup the
    batch's documents against the corpus snapshot, publish the
    survivors to the lake, and make exactly the survivors' embeddings
    searchable in the persisted IVF index. Dropped duplicates never
    reach the vector index, so dedup and similarity serving can never
    disagree about what is in the corpus.

    Replay-idempotent as a UNIT: both artifact families key the epoch
    by the same ``epoch-<id>`` batch name — the dedup reads exclude
    the epoch's own delta, every commit is a wholesale delta replace,
    and a crash between the dedup commit and the IVF append recovers
    on replay (the re-run recomputes the same survivor set against
    the same excluded-epoch corpus view and replaces both deltas).
    ``compact_every`` folds BOTH families' deltas in-epoch with
    ``exclude=`` the current epoch, same contract as each twin alone.
    ``retrain_balance`` adds the drift-repair knob: when the index's
    cell-occupancy skew exceeds it, the epoch ends with
    :meth:`~..signature_store.SignatureStore.ivf_maybe_retrain`
    (``exclude=`` the current epoch, so the replay contract holds —
    the retrain re-assigns the live epoch delta under the new
    quantizer instead of folding it). ``rescale_balance`` /
    ``rescale_occupancy`` forward the two escalation thresholds
    (structural skew after a retrain; mean per-cell occupancy growth)
    — when either fires, the maintenance call rebuilds the family at
    a larger cell count and bumps the active marker, which the NEXT
    epoch's ``n_centroids=None`` resolution adopts without stopping
    the stream.

    ``semantic_threshold`` inserts the EMBEDDING dedup tier between
    the text tiers and publication: MinHash survivors additionally
    pass :func:`~..pipelines.incremental_semantic_dedup` against the
    persisted IVF index (cosine ≥ threshold vs corpus or vs each
    other → dropped, corpus wins). Both tiers run with
    ``defer_commit`` and the FINAL survivor set commits once to the
    lake, the text artifacts, and the vector index — the three
    surfaces can never disagree about corpus membership, which is
    the invariant a mixed text+vector pipeline actually needs.
    """
    from .. import pipelines as P

    if batch_df.isEmpty():
        return
    # resolve the IVF family key PER EPOCH: None follows the store's
    # active-family marker, so an ivf_rescale (manual, or the
    # rescale_balance escalation below) is adopted on the next epoch
    # without stopping the stream; explicit values pin a family
    n_centroids, iters = store.ivf_resolve(corpus, n_centroids, iters)
    name = f"epoch-{int(epoch_id)}"
    survivors = P.incremental_dedup(
        batch_df.select(id_col, text_col),
        store,
        corpus,
        id_col=id_col,
        text_col=text_col,
        threshold=threshold,
        commit_batch=name,
        defer_commit=semantic_threshold is not None,
    )
    if semantic_threshold is not None:
        # the embedding tier cuts the MinHash survivors further; both
        # tiers deferred their commits, so only the FINAL set is ever
        # published anywhere
        from ..operators.common import materialize

        sem = P.incremental_semantic_dedup(
            batch_df.select(id_col, vec_col).join(
                survivors.select(id_col), id_col, "left_semi"
            ),
            store,
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            threshold=semantic_threshold,
            n_centroids=n_centroids,
            iters=iters,
            commit_batch=name,
            defer_commit=True,
        )
        final = survivors.join(
            sem.select(id_col), id_col, "left_semi"
        ).transform(materialize)
    else:
        final = survivors
    (
        final.withColumn("_epoch", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_epoch")
        .parquet(output_path)
    )
    if semantic_threshold is not None:
        store.append_batch(final, corpus, name, id_col, text_col)
    vecs = batch_df.select(id_col, vec_col).join(
        final.select(id_col), id_col, "left_semi"
    ).filter(F.col(vec_col).isNotNull())
    store.ivf_append(
        vecs, corpus, name,
        id_col=id_col, vec_col=vec_col,
        n_centroids=n_centroids, iters=iters,
    )
    if semantic_threshold is not None:
        final.unpersist()
        sem.unpersist()
    survivors.unpersist()
    if compact_every and int(epoch_id) % compact_every == compact_every - 1:
        store.compact(corpus, exclude=name)
        store.ivf_compact(
            corpus, n_centroids=n_centroids, iters=iters, exclude=name
        )
    if retrain_balance is not None or rescale_occupancy is not None:
        store.ivf_maybe_retrain(
            corpus, n_centroids=n_centroids, iters=iters,
            # occupancy-only maintenance disables the skew path
            max_balance=(
                retrain_balance if retrain_balance is not None
                else float("inf")
            ),
            exclude=name,
            rescale_balance=rescale_balance,
            rescale_occupancy=rescale_occupancy,
        )


def start_corpus_ingest(
    stream_df: DataFrame,
    store,
    corpus: str,
    output_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    semantic_threshold: float | None = None,
    n_centroids: int | None = None,
    iters: int | None = None,
    trigger: dict | None = None,
    compact_every: int | None = None,
    retrain_balance: float | None = None,
    rescale_balance: float | None = None,
    rescale_occupancy: float | None = None,
):
    """The end-to-end continuous training-data pipeline: an append
    stream of ``(id, text, embedding)`` rows → ``foreachBatch`` →
    :func:`corpus_ingest_micro_batch`. Per epoch the corpus grows by
    exactly the deduplicated survivors — text artifacts, lake
    partitions, and vector index in lock-step — at O(batch) cost per
    family. The dedup bases AND the IVF index (with its trained
    quantizer) must exist before the stream starts; both twins'
    loud-failure and lease/owner recovery contracts apply (build the
    store with a checkpoint-derived owner)."""

    def _run(batch_df: DataFrame, epoch_id: int) -> None:
        corpus_ingest_micro_batch(
            batch_df, epoch_id, store, corpus, output_path,
            id_col=id_col, text_col=text_col, vec_col=vec_col,
            threshold=threshold, semantic_threshold=semantic_threshold,
            n_centroids=n_centroids, iters=iters,
            compact_every=compact_every, retrain_balance=retrain_balance,
            rescale_balance=rescale_balance,
            rescale_occupancy=rescale_occupancy,
        )

    writer = stream_df.writeStream.foreachBatch(_run).option(
        "checkpointLocation", checkpoint
    )
    t = trigger or {"availableNow": True}
    return writer.trigger(**t).start()
