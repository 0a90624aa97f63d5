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
  on dedup for idempotence. We use checkpointed offsets, so nothing is
  re-read, and keep the idempotence: ``warehouse_merge`` is a
  deterministic upsert, and :func:`e2_micro_batch` drops a replayed
  epoch's own rows before re-adding them, so a replay after a crash
  between the warehouse commit and the checkpoint commit leaves one
  snapshot per symbol for that epoch even with a later clock.
- T5: late/corrected rows re-state history inside the bounded window
  (40 days) only. :func:`e2_micro_batch` commits each micro-batch in
  O(batch + touched files): the batch's rows become one new data
  file, their SMAs come from a committed 19-row tail per symbol
  (``<warehouse>/_tail/``), and only files whose rows change are
  rewritten: on expiry the oldest date slices (expired rows and the
  re-stated head rows of each expiring symbol), and on a fold the
  small appended files at the new end. Appends, expiries and folds
  build the batch from one SQL statement (``_BATCH_SQL``: one
  ``GROUP BY`` reduces both feeds, one window over tail and new rows
  gives the SMAs and the next tail) and write its rows and the next
  tail in one Spark write, partitioned into the stage's data and tail
  directories; a plain append is three Spark jobs. The whole window is
  recomputed, with :func:`process_micro_batch`, only when no tail is
  committed, when a row arrives no newer than the table, or on a
  replay. Readers skip ``_``-prefixed paths (the tail, the staging
  area, the commit record); see :func:`..sinks.files.commit_table`
  for what a reader sees mid-commit.
- T6: the reference conflates event time and processing time
  (``processed_at`` becomes the warehouse ``date``); we keep BOTH
  columns and parameterize the clock for reproducibility.
"""

from __future__ import annotations

import datetime as _dt
import uuid

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.aggregates import keep_last_dedup
from ..operators.joins import normalize_symbol, snapshot_join, union_history
from ..operators.rowops import falsy_guarded_diff, turnover_ratio
from ..operators.windows import rolling_mean

_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)


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


def batch_rows(tagged_batch: DataFrame, clock: Column | None = None) -> DataFrame:
    """One tagged micro-batch → its warehouse rows (no metrics):
    split the ``_feed`` union → enrich → warehouse rows.

    ``tagged_batch`` columns: ``_feed`` ('brapi'|'yfinance') + the
    union of both feeds' columns (unused side null).
    """
    from ..schemas import BRAPI_QUOTE, YFINANCE_QUOTE

    brapi_cols = [f.name for f in BRAPI_QUOTE.fields] + ["_ingest_ts"]
    yfin_cols = [f.name for f in YFINANCE_QUOTE.fields]
    brapi = tagged_batch.filter(F.col("_feed") == "brapi").select(*brapi_cols)
    yfin = tagged_batch.filter(F.col("_feed") == "yfinance").select(*yfin_cols)
    return enriched_to_warehouse_rows(enrich_quotes(brapi, yfin, clock=clock))


def process_micro_batch(
    tagged_batch: DataFrame,
    history: DataFrame | None = None,
    clock: Column | None = None,
) -> DataFrame:
    """One E2 micro-batch end-to-end as the reference computes it:
    :func:`batch_rows` merged into ``history`` with every metric
    recomputed. Returns the new warehouse table. This is the formula
    :func:`e2_micro_batch` reproduces while touching only the rows it
    changes."""
    new_rows = batch_rows(tagged_batch, clock=clock)
    if history is None:  # first run: empty history with warehouse schema
        history = new_rows.sparkSession.createDataFrame([], new_rows.schema)
    return warehouse_merge(history, new_rows)


# SMA-20 over a new row needs the 19 rows before it
TAIL_ROWS = 19
# appended files are folded once this many sit at the new end
FOLD_FILES = 32
# target size of a rewritten date slice; an appended file this big
# stays out of later folds
SLICE_BYTES = 1 << 20
_METRICS = ["sma_5", "sma_20", "turnover_ratio"]


def _us(t) -> int:
    return (t - _EPOCH) // _dt.timedelta(microseconds=1)


def _at(us: int) -> _dt.datetime:
    return _EPOCH + _dt.timedelta(microseconds=us)


def _read(spark, wh: str, names, schema: StructType | None = None) -> DataFrame:
    """The named files of ``wh``; with ``schema`` given, without the
    Spark job that infers it."""
    from ..sinks.files import subpath

    r = spark.read if schema is None else spark.read.schema(schema)
    return r.parquet(*[subpath(wh, f) for f in names])


def _last_rows(df: DataFrame, n: int) -> DataFrame:
    w = Window.partitionBy("symbol").orderBy(F.col("date").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .select("symbol", "date", "close")
    )


# One non-whole micro-batch in one statement: the rows of {batch} that
# batch_rows would give, stamped :now, with SMAs from the committed
# {tail}, each tagged _stage='data'; and the next tail (the last
# TAIL_ROWS rows per symbol), tagged _stage='tail', of which only
# symbol, date and close are kept. Both feeds are reduced in one
# GROUP BY on the join key (brapi's symbol, yfinance's without ".SA"):
# each max_by sees only its feed's rows, and a symbol missing from a
# feed gets a null struct, so its row fails the null filter, as the
# inner join of snapshot_join drops it. The window then runs once over
# tail and new rows, and one row per output is exploded from it.
_BATCH_SQL = r"""
WITH keyed AS (
  SELECT *, CASE _feed WHEN 'brapi' THEN symbol
    WHEN 'yfinance' THEN regexp_replace(symbol, '\\.SA$', '') END AS _key
  FROM {batch}
), snap AS (
  SELECT _key AS symbol,
    max_by(struct(longName, regularMarketPrice, regularMarketChange,
                  regularMarketChangePercent, marketCap),
           CASE WHEN _feed = 'brapi' THEN _ingest_ts END) AS b,
    max_by(struct(open, high, low, close, volume),
           CASE WHEN _feed = 'yfinance' THEN timestamp END) AS y
  FROM keyed WHERE _key IS NOT NULL GROUP BY _key
), new AS (
  SELECT symbol, :now AS date, try_cast(y.close AS DOUBLE) AS close,
    struct(b.longName, b.regularMarketPrice, b.regularMarketChange,
           b.regularMarketChangePercent,
           try_cast(b.marketCap AS DOUBLE) AS marketCap,
           y.open, y.high, y.low, try_cast(y.volume AS DOUBLE) AS volume,
           CASE WHEN y.close IS NULL OR y.close = 0 OR y.open IS NULL
             OR y.open = 0 THEN 0D ELSE y.close - y.open END AS change_day
    ) AS q
  FROM snap
), both AS (
  SELECT symbol, date, close, NULL AS q FROM {tail}
  UNION ALL
  SELECT * FROM new
  WHERE close IS NOT NULL AND q.volume IS NOT NULL AND q.marketCap IS NOT NULL
), metrics AS (
  SELECT symbol, date, close, q IS NOT NULL AS _new,
    struct(q.*,
      avg(close) OVER (PARTITION BY symbol ORDER BY date
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS sma_5,
      avg(close) OVER (PARTITION BY symbol ORDER BY date
                       ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS sma_20) AS q,
    count(*) OVER (PARTITION BY symbol ORDER BY date
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS _later
  FROM both
), tagged AS (
  SELECT *, IF(_stage = 'data', q, NULL) AS d
  FROM metrics LATERAL VIEW explode(array_compact(array(
    IF(_new, 'data', NULL), IF(_later <= {tail_rows}, 'tail', NULL)))) AS _stage
)
SELECT symbol, d.longName, d.regularMarketPrice, d.regularMarketChange,
  d.regularMarketChangePercent, d.marketCap, d.open, d.high, d.low, close,
  d.volume, d.change_day, date, coalesce(d.sma_5, 0D) AS sma_5,
  coalesce(d.sma_20, 0D) AS sma_20,
  coalesce(try_divide(d.volume * close, d.marketCap), 0D) AS turnover_ratio,
  _stage
FROM tagged
"""


def _batch_statement(batch_df: DataFrame, tail: DataFrame, now) -> DataFrame:
    """``_BATCH_SQL`` over ``batch_df`` and the committed ``tail``,
    in ``batch_df``'s session (``tail`` must come from it too)."""
    return batch_df.sparkSession.sql(
        _BATCH_SQL, args={"now": now}, batch=batch_df, tail=tail, tail_rows=TAIL_ROWS
    )


def _is_replay(spark, wh: str, live, batch_df: DataFrame, state) -> bool:
    """Whether ``batch_df`` re-runs the last committed epoch: stamped
    with that epoch's clock, its rows are exactly the table's rows of
    those symbols at that date (a new stream's epoch of the same id
    carries other rows)."""
    then = F.lit(_at(state["now_us"]))
    mine = batch_rows(batch_df, clock=then)
    committed = (
        _read(spark, wh, live)
        .filter(F.col("date") == then)
        .join(mine.select("symbol"), "symbol", "left_semi")
        .select(*mine.columns)
    )
    return sorted(mine.collect()) == sorted(committed.collect())


def e2_micro_batch(
    batch_df: DataFrame,
    epoch_id: int,
    spark,
    warehouse_path: str,
    history_days: int = 40,
    now=None,
) -> None:
    """``foreachBatch`` body of :func:`start_incremental` — one E2
    micro-batch committed to the warehouse. Exposed at module level so
    tests and backfills drive it with static frames and an injected
    clock ``now`` (a datetime, UTC if naive; default: the wall clock).

    The table after the batch equals :func:`process_micro_batch` over
    the rows dated within ``history_days`` of ``now`` (T5), but the
    batch touches only the files whose rows change. The committed
    ``_state`` record keeps the table's schema and a manifest: per data
    file its oldest and newest date, its size, and whether it holds
    appended batches.

    - New rows get SMA-5/SMA-20 from the committed tail: the last
      ``TAIL_ROWS`` ``(symbol, date, close)`` rows per symbol, kept in
      ``<warehouse>/_tail/`` and committed with the data.
    - Every batch but a whole rewrite (below) runs one SQL statement
      (``_BATCH_SQL``) in ``batch_df``'s session (inside
      ``foreachBatch`` the stream's own, which cannot see the outer
      session's views): both feeds reduced in one ``GROUP BY``, one
      window over tail and new rows for the SMAs and the next tail, and
      one Spark write partitioned into the stage's data and tail
      directories (:func:`..sinks.files.commit_table`). A plain append
      is that one write, three Spark jobs.
    - Touched files, rewritten with the batch (one commit):
      - none, for a plain append: the batch becomes one file;
      - when the cutoff passes the oldest row, the oldest files, up to
        a date that every expiring symbol's first ``TAIL_ROWS``
        surviving rows precede (``min_periods=1`` re-states those head
        rows; every later row keeps its metrics, whose 20-row frame is
        unchanged). They are rewritten as date slices of about
        ``SLICE_BYTES``, in a write of their own into the stage, so the
        next expiry touches only the oldest;
      - once ``FOLD_FILES`` small appended files sit at the new end,
        those files, merged with the batch into one (a fold, which
        bounds the file count);
      - the whole window, with every metric recomputed, when no tail
        is committed or the manifest does not match the table (a
        warehouse written by other code), when a new row is not newer
        than the newest committed one, or when the batch replays the
        last committed epoch. This is the reference's full rewrite
        (:func:`process_micro_batch`), in Spark's own output layout,
        whose files each span every date: the first expiry after one
        rewrites the window into slices.

    Replay (T3): a re-run of the last committed epoch (same id, same
    rows) first drops that epoch's rows, so the same or a later
    ``now`` leaves exactly one snapshot per symbol for it.
    """
    from ..sinks import files as sink

    now = _dt.datetime.now(_dt.timezone.utc) if now is None else now
    if now.tzinfo is None:
        now = now.replace(tzinfo=_dt.timezone.utc)
    epoch, now_us = int(epoch_id), _us(now)
    cutoff = now - _dt.timedelta(days=history_days)
    wh = warehouse_path.rstrip("/")
    stage = sink.subpath(wh, sink.STAGING)
    staged_dir = sink.subpath(stage, sink.STAGED_DATA)

    # recover before listing: a table parked at __old by a crashed swap
    # lists as empty, and "no files" means first run, which would
    # rebuild the warehouse from this one batch
    sink.recover_table(spark, wh)
    state = sink.table_state(spark, wh)
    live = list(sink.data_files(spark, wh))
    files = None if state is None else state["files"]
    if files is not None and sorted(files) != live:
        files = None  # the table changed outside these commits
    schema = None if files is None else StructType.fromJson(state["schema"])

    replay = (
        files is not None
        and state["epoch"] == epoch
        and bool(live)
        and _is_replay(spark, wh, live, batch_df, state)
    )
    newest = max((v[1] for v in (files or {}).values()), default=None)
    whole = files is None or replay or (newest is not None and now_us <= newest)
    expiry: list[str] = []
    fold: list[str] = []

    if whole:
        new_rows = batch_rows(batch_df, clock=F.lit(now))
        history = None
        if live:
            history = _read(spark, wh, live).filter(F.col("date") >= F.lit(cutoff))
            if replay:  # drop the replayed epoch's own rows first
                mine = new_rows.select("symbol").withColumn(
                    "date", F.lit(_at(state["now_us"]))
                )
                history = history.join(mine, ["symbol", "date"], "left_anti")
        out = process_micro_batch(batch_df, history, clock=F.lit(now))
        out = out.select(*new_rows.columns, *_METRICS)
        schema = out.schema
        out.write.mode("overwrite").parquet(staged_dir)
        staged = sink.data_files(spark, staged_dir)
        rows = _read(spark, staged_dir, staged, schema)
        ranges = _date_ranges(rows)
        _last_rows(rows, TAIL_ROWS).coalesce(1).write.mode("overwrite").parquet(
            sink.subpath(stage, sink.STAGED_TAIL)
        )
    else:
        ss = batch_df.sparkSession
        tail_dir = sink.subpath(wh, sink.TAIL)
        old_tail = _read(
            ss, tail_dir, sink.data_files(spark, tail_dir), _tail_schema(schema)
        ).filter(F.col("date") >= F.lit(cutoff))
        out = _batch_statement(batch_df, old_tail, now)
        if files and _us(cutoff) > min(v[0] for v in files.values()):
            expiry = _expiry_files(ss, wh, files, schema, cutoff, old_tail)
        fold = _fold_run(files, expiry)
        if fold:
            out = _read(ss, wh, fold, schema).withColumn(
                sink.STAGE_COL, F.lit("data")
            ).unionByName(out)
        out.coalesce(1).write.mode("append").partitionBy(sink.STAGE_COL).parquet(stage)
        staged = sink.data_files(spark, staged_dir)
        # one file: the folded files and the batch
        lo = min([now_us, *(files[f][0] for f in fold)])
        ranges = {n: (lo, now_us) for n in staged}
        if expiry:  # a write of their own: no slice may hold the batch's rows
            size = sum(files[f][2] for f in expiry)
            (
                _restated(ss, wh, expiry, schema, cutoff)
                .select(*schema.names)
                .repartitionByRange(max(1, -(-size // SLICE_BYTES)), "date")
                .write.mode("append")
                .parquet(staged_dir)
            )
            slices = {
                n: v for n, v in sink.data_files(spark, staged_dir).items()
                if n not in staged
            }
            ranges.update(_date_ranges(_read(ss, staged_dir, slices, schema)))
            staged.update(slices)

    # restated rows are dated up to the expiry's newest; later ones are appended
    edge = max((files[f][1] for f in expiry), default=None)
    prefix = f"epoch-{epoch}-{uuid.uuid4().hex[:8]}"
    touched = live if whole else expiry + fold
    manifest = {f: v for f, v in (files or {}).items() if f not in touched}
    add = {}
    for k, (n, size) in enumerate(staged.items()):
        lo, hi = ranges.get(n, (now_us, now_us))  # no rows: an empty batch
        add[n] = f"{prefix}-{k}.parquet"
        manifest[add[n]] = [lo, hi, size, int(not whole and (edge is None or lo > edge))]

    sink.commit_table(
        spark,
        wh,
        add=add,
        delete=touched,
        state={
            "epoch": epoch,
            "now_us": now_us,
            "schema": schema.jsonValue(),
            "files": manifest,
        },
    )


def _date_ranges(rows: DataFrame) -> dict:
    """File name → (oldest, newest) date of its rows, in microseconds."""
    return {
        r[0]: (r[1], r[2])
        for r in rows.groupBy(F.col("_metadata.file_name"))
        .agg(F.min(F.unix_micros("date")), F.max(F.unix_micros("date")))
        .collect()
    }


def _tail_schema(schema: StructType) -> StructType:
    return StructType([schema[c] for c in ("symbol", "date", "close")])


def _expiry_files(
    spark, wh: str, files: dict, schema: StructType, cutoff, tail: DataFrame
) -> list[str]:
    """The oldest files, up to a date that bounds every expired row and
    every expiring symbol's first ``TAIL_ROWS`` surviving rows (or all
    of them, if it has fewer; ``tail`` holds a symbol's last surviving
    rows). Each candidate set holds every row up to its newest date,
    and only its files' ``symbol`` and ``date`` are scanned."""
    order = sorted(files, key=lambda f: files[f][0])
    n = sum(files[f][0] < _us(cutoff) for f in order)
    # per symbol: expired rows in the set, surviving rows in the set,
    # surviving tail rows (the tail's rows carry a null _x)
    tail_rows = tail.select("symbol", F.lit(None).cast("boolean").alias("_x"))
    while True:
        hi = max(files[f][1] for f in order[:n])
        while n < len(order) and files[order[n]][0] <= hi:
            hi = max(hi, files[order[n]][1])
            n += 1
        if n == len(order):
            return order
        short = (
            _read(spark, wh, order[:n], schema)
            .select("symbol", (F.col("date") < F.lit(cutoff)).alias("_x"))
            .unionByName(tail_rows)
            .groupBy("symbol")
            .agg(
                F.max("_x").alias("_x"),
                F.count(F.when(~F.col("_x"), 1)).alias("_s"),
                F.count(F.when(F.col("_x").isNull(), 1)).alias("_n"),
            )
            .filter(F.col("_x") & (F.col("_s") < F.least("_n", F.lit(TAIL_ROWS))))
        )
        if short.isEmpty():
            return order[:n]
        n = min(len(order), 2 * n)


def _fold_run(files: dict, expiry: list[str]) -> list[str]:
    """The small appended files at the new end, once the batch's own
    file would make them ``FOLD_FILES``; else none."""
    run = []
    for f in sorted(files, key=lambda f: files[f][:2], reverse=True):
        lo, hi, size, appended = files[f]
        if not appended or size >= SLICE_BYTES or f in expiry:
            break
        run.append(f)
    return sorted(run) if len(run) >= FOLD_FILES - 1 else []


def _restated(spark, wh: str, touched: list[str], schema: StructType, cutoff) -> DataFrame:
    """The surviving rows of ``touched`` with each symbol's first
    ``TAIL_ROWS`` rows' SMAs recomputed. ``touched`` holds every row up
    to its newest date, so those rows' frames hold exactly the rows a
    full recompute would see; later rows keep their committed metrics."""
    t = _read(spark, wh, touched, schema).filter(F.col("date") >= F.lit(cutoff))
    head = F.row_number().over(Window.partitionBy("symbol").orderBy("date")) <= TAIL_ROWS
    t = rolling_mean(t, "close", "symbol", "date", 5, "_s5")
    t = rolling_mean(t, "close", "symbol", "date", 20, "_s20")
    return t.withColumn("_head", head).select(
        *[c for c in t.columns if c not in ("sma_5", "sma_20", "_s5", "_s20")],
        F.when(F.col("_head"), F.col("_s5")).otherwise(F.col("sma_5")).alias("sma_5"),
        F.when(F.col("_head"), F.col("_s20")).otherwise(F.col("sma_20")).alias("sma_20"),
    )


def start_incremental(
    spark,
    stream_df: DataFrame,
    warehouse_path: str,
    checkpoint: str,
    history_days: int = 40,
    trigger: dict | None = None,
):
    """Wire the streaming shell: tagged stream → foreachBatch
    (:func:`e2_micro_batch`) → warehouse commit. ``trigger`` defaults
    to availableNow (T2 drain-then-stop); pass
    {"processingTime": "60 seconds"} for the reference's cadence
    (T1)."""

    def _run(batch_df: DataFrame, epoch_id: int) -> None:
        e2_micro_batch(batch_df, epoch_id, spark, warehouse_path, history_days)

    return _start(stream_df, _run, checkpoint, trigger)


def _start(stream_df: DataFrame, body, checkpoint: str, trigger: dict | None):
    """The stream shell every ``start_*`` shares: ``foreachBatch(body)``
    with its checkpoint, triggered by ``trigger`` (availableNow when
    None: T2 drain-then-stop)."""
    writer = stream_df.writeStream.foreachBatch(body).option(
        "checkpointLocation", checkpoint
    )
    return writer.trigger(**(trigger or {"availableNow": True})).start()


def _compact_due(compact_every: int | None, epoch_id: int) -> bool:
    """True on the last epoch of every ``compact_every`` epochs."""
    return bool(compact_every) and int(epoch_id) % compact_every == compact_every - 1


def _publish_epoch(df: DataFrame, epoch_id: int, output_path: str) -> None:
    """Publish an epoch's rows to the lake as its ``_epoch=<id>``
    partition, replacing only that partition on a replay."""
    (
        df.withColumn("_epoch", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        # dynamic pinned PER-WRITE: on a user-supplied session without
        # session.py's default, static mode would wipe every previously
        # published epoch from output_path on each overwrite
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_epoch")
        .parquet(output_path)
    )


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
    _publish_epoch(survivors, epoch_id, output_path)
    survivors.unpersist()
    if _compact_due(compact_every, epoch_id):
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

    return _start(stream_df, _run, checkpoint, trigger)


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
    if _compact_due(compact_every, epoch_id):
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

    return _start(stream_df, _run, checkpoint, trigger)


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
    _publish_epoch(final, epoch_id, output_path)
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
    if _compact_due(compact_every, epoch_id):
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

    return _start(stream_df, _run, checkpoint, trigger)
