"""Custom stateful streaming operators via applyInPandasWithState.

The reference has no stateful streaming (its only state is the CDC
watermark, SURVEY.md T7); these are the extension operators a real
quote-stream engine runs continuously. State is one small tuple per
key (O(keys) memory, checkpoint-persisted), never per-event.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

EWMA_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)
EWMA_STATE = T.StructType([T.StructField("ewma", T.DoubleType())])


def ewma_fn(alpha: float):
    """Per-key exponentially-weighted moving average across
    micro-batches: state = last EWMA; each batch's rows are processed
    in event-time order. Equivalent to the batch recurrence
    ``e_t = alpha*v_t + (1-alpha)*e_{t-1}`` over the full ordered
    stream (asserted in tests)."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        prev = state.get[0] if state.exists else None
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts")
        ewma = _ewm_seeded(rows["value"], alpha, prev)
        state.update((float(ewma.iloc[-1]),))
        yield pd.DataFrame(
            {
                "user_id": user_id,
                "ts": rows["ts"],
                "value": rows["value"],
                "ewma": ewma.round(9),
            }
        )

    return fn


def _ewm_seeded(values: pd.Series, alpha: float, prev: float | None) -> pd.Series:
    """Vectorized EWMA recurrence ``e_t = α·v_t + (1-α)·e_{t-1}``
    (pandas ewm adjust=False), optionally seeded with carried state by
    prepending the previous EWMA and dropping it after."""
    if prev is None:
        return values.ewm(alpha=alpha, adjust=False).mean()
    seeded = pd.concat([pd.Series([prev]), values], ignore_index=True)
    return (
        seeded.ewm(alpha=alpha, adjust=False)
        .mean()
        .iloc[1:]
        .reset_index(drop=True)
        .set_axis(values.index)
    )


def ewma_stream(events: DataFrame, alpha: float = 0.2) -> DataFrame:
    """Streaming EWMA per user_id. ``events`` is a streaming
    DataFrame with (user_id, ts, value)."""
    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            ewma_fn(alpha),
            outputStructType=EWMA_OUTPUT,
            stateStructType=EWMA_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def ewma_batch(events: DataFrame, alpha: float = 0.2) -> DataFrame:
    """Batch twin of the streaming recurrence (for differential
    testing and the registry query).

    Physical shape: one shuffle on user_id + in-partition sort, then a
    single ``mapInPandas`` pass. Keys are contiguous and time-ordered
    within a partition, so each Arrow batch is processed with one
    vectorized ``ewm`` per key and a carry dict seeds keys that span
    batch boundaries. This replaces a per-group ``applyInPandas``
    (one Python call + Arrow round-trip per key — thousands of tiny
    groups made that the dominant cost; ~6× slower at sf0.1)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: dict[int, float] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            # one cython groupby-ewm over the whole batch instead of a
            # Python loop constructing a DataFrame per key (thousands
            # of tiny groups made that loop the dominant cost; same
            # adjust=False recurrence, so values are identical).
            # groupby keys come back ordered by first appearance
            # (sort=False) and rows are (user_id, ts)-sorted and
            # contiguous within the partition stream, so dropping the
            # group level + sort_index restores the original row order.
            e = (
                pdf.groupby("user_id", sort=False)["value"]
                .ewm(alpha=alpha, adjust=False)
                .mean()
                .reset_index(level=0, drop=True)
                .sort_index()
            )
            # keys that span an Arrow-batch boundary continue their
            # carried recurrence: re-seed exactly as before (the sorted
            # stream means only a batch's head key can recur, but any
            # carried key present is handled, same as the old loop)
            for uid in pd.unique(pdf["user_id"]):
                if uid in carry:
                    mask = (pdf["user_id"] == uid).to_numpy()
                    seeded = _ewm_seeded(
                        pdf.loc[mask, "value"], alpha, carry[uid]
                    )
                    e[mask] = seeded
            last = ~pdf["user_id"].duplicated(keep="last").to_numpy()
            carry.update(
                zip(pdf["user_id"].to_numpy()[last], e.to_numpy()[last])
            )
            yield pd.DataFrame(
                {
                    "user_id": pdf["user_id"],
                    "ts": pdf["ts"],
                    "value": pdf["value"],
                    "ewma": e.round(9),
                }
            )

    # null keys are dropped BEFORE the Arrow hand-off, keeping the old
    # per-group loop's semantics: a null in a batch turns user_id into
    # float64, which merges ids >= 2**53 (2**53 and 2**53 + 1 are one
    # float) in the carry dict and the output
    return (
        events.select("user_id", "ts", "value")
        .filter(F.col("user_id").isNotNull())
        .repartition("user_id")
        .sortWithinPartitions("user_id", "ts")
        .mapInPandas(fn, schema=EWMA_OUTPUT)
    )


# ---------------------------------------------------------------------------
# transformWithState (Spark 4 arbitrary-state API)
# ---------------------------------------------------------------------------

RUNNING_TOTALS_OUTPUT = (
    "user_id BIGINT, n BIGINT, total DOUBLE, vmin DOUBLE, vmax DOUBLE, "
    "vmean DOUBLE"
)


def _make_running_totals_processor():
    """Per-key running (count, sum, min, max, mean) as a
    :class:`StatefulProcessor` — the Spark 4 ``transformWithState``
    API. vs ``applyInPandasWithState``: typed named state slots
    (Value/List/MapState) instead of one tuple, per-key timers, TTL,
    and a RocksDB-backed store, which is what survives 100 TB of keys
    (state spills to disk instead of living in executor heap).

    Emits one updated-totals row per key per micro-batch (Update
    mode); the final row per key equals the batch groupBy aggregate
    over the whole stream (asserted in tests).
    """
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n BIGINT, s DOUBLE, mn DOUBLE, mx DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._totals.exists():
                n, s, mn, mx = self._totals.get()
            else:
                n, s, mn, mx = 0, 0.0, None, None
            for pdf in rows:
                if pdf.empty:
                    continue
                v = pdf["value"]
                n += int(v.count())
                s += float(v.sum())
                bmn, bmx = float(v.min()), float(v.max())
                mn = bmn if mn is None else min(mn, bmn)
                mx = bmx if mx is None else max(mx, bmx)
            self._totals.update((n, s, mn, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n": [n],
                    "total": [s],
                    "vmin": [mn],
                    "vmax": [mx],
                    "vmean": [s / n if n else None],
                }
            )

        def close(self) -> None:
            pass

    return RunningTotals()


def running_totals_stream(
    events: DataFrame, key_col: str = "user_id", value_col: str = "value"
) -> DataFrame:
    """Streaming per-key running totals via ``transformWithStateInPandas``.

    Requires the RocksDB state-store provider
    (``spark.sql.streaming.stateStore.providerClass =
    org.apache.spark.sql.execution.streaming.state.
    RocksDBStateStoreProvider``) — transformWithState is only
    implemented there, and RocksDB is the right store at scale anyway.
    Runtime also needs the ``protobuf`` package on the driver (the
    Python↔JVM state protocol); plan construction does not.
    """
    return (
        events.select(
            F.col(key_col).alias("user_id"), F.col(value_col).alias("value")
        )
        .groupBy("user_id")
        .transformWithStateInPandas(
            _make_running_totals_processor(),
            outputStructType=RUNNING_TOTALS_OUTPUT,
            outputMode="Update",
            timeMode="None",
        )
    )
