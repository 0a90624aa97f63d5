"""JDBC source adapters (S4/S5/S6): full scan, time-filtered scan, and
poll-based incremental CDC.

The reference's patterns:
- full scan: ``SELECT * FROM b3_analytics_data``
  (reference include/tasks/generate_dashboard.py:15-16)
- time-filtered: ``WHERE date >= NOW() - INTERVAL '40 days'``
  (reference include/tasks/data_warehouse.py:67-68)
- poll CDC: ``WHERE timestamp > :last_ts ORDER BY timestamp`` every
  60 s with an in-memory high-water mark
  (reference ingestion_services/postgres_producer/main.py:56-79)

Predicates are embedded in the ``dbtable`` subquery so the DATABASE
does the filtering (JDBC pushdown), and big scans can be split across
executors with partitionColumn/num_partitions — the reference reads
everything single-threaded.

The tests run these readers end to end against embedded in-memory
Derby (its jars ship with pyspark), and exercise the watermark logic
alone with a fixture-backed ``read_fn``. The subquery alias is a
plain SQL identifier: Derby rejects one that starts with ``_``.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# ISO-8601-ish timestamp/date: the only watermark shape we embed in
# pushdown SQL. Anything else (quotes, SQL fragments round-tripped
# through a text ts column) is rejected instead of interpolated.
_ISO_TS_RE = re.compile(
    r"^\d{4}-\d{2}-\d{2}"  # date
    r"([ T]\d{2}:\d{2}:\d{2}(\.\d{1,9})?)?"  # optional time
    r"(Z|[+-]\d{2}:?\d{2})?$"  # optional offset
)


def read_table(
    spark: SparkSession,
    url: str,
    table_or_query: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound=None,
    upper_bound=None,
    num_partitions: int | None = None,
):
    """JDBC scan; pass ``(SELECT ... WHERE ...) t`` as table_or_query
    to push predicates into the database. partition_column splits the
    read into parallel range queries (the 100 TB knob the reference's
    single SELECT lacks)."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table_or_query)
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    return reader.load()


def incremental_query(table: str, ts_col: str, last_ts: str) -> str:
    """The poll-CDC pushdown subquery (S4).

    ``last_ts`` is embedded in the SQL string, so it is validated
    against a strict ISO-8601 shape first — a watermark value carrying
    a quote (e.g. a crafted value round-tripped through
    ``PollingWatermark``'s ``str()``) must not break out of the
    literal.
    """
    if not _ISO_TS_RE.match(last_ts):
        raise ValueError(
            f"watermark {last_ts!r} is not an ISO-8601 timestamp; "
            "refusing to embed it in pushdown SQL"
        )
    return (
        f"(SELECT * FROM {table} "
        f"WHERE {ts_col} > '{last_ts}' ) AS incr"
    )


class PollingWatermark:
    """High-water-mark state for poll-based CDC (T7).

    The reference keeps ``last_timestamp`` in process memory (lost on
    restart → full re-send). Here the watermark is explicit and
    persistable; ``advance`` is driven by the max event time actually
    read, so restarts resume from durable state.
    """

    def __init__(self, initial: str):
        self.value = initial

    def poll(
        self, read_fn: Callable[[str], DataFrame], ts_col: str
    ) -> DataFrame:
        """One poll cycle: read rows newer than the watermark, advance
        it to the max timestamp seen. read_fn abstracts the actual
        source (JDBC in prod, fixture frames in tests).

        The batch is materialized (``localCheckpoint``) before the max
        is computed, so the rows the caller consumes are exactly the
        rows the watermark advanced on — without it a lazy JDBC frame
        would hit the live table twice and could return a different
        batch than the one the watermark covers.

        Inherent poll-CDC caveat (shared with the reference,
        ingestion_services/postgres_producer/main.py:56-79): a source
        transaction that commits a row with ``ts <=`` the advanced
        watermark *after* this poll read is skipped forever. If the
        source can commit out of ts order, poll with a lag (query
        ``ts > watermark AND ts <= now() - epsilon``) or switch to a
        log-based CDC source.
        """
        from pyspark.sql import functions as F

        batch = read_fn(self.value).localCheckpoint(eager=True)
        row = batch.agg(F.max(ts_col).alias("m")).collect()[0]
        if row["m"] is not None:
            self.value = str(row["m"])
        return batch
