"""JDBC sinks (K3 full-replace, K4 upsert-ignore).

``write_replace`` is tested end to end against embedded in-memory
Derby (its jars ship with pyspark); the merge LOGIC (the part with
semantics) is a pure DataFrame transform, tested on fixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_replace(df: DataFrame, url: str, table: str, properties: dict | None = None) -> None:
    """K3: drop-and-recreate full replace (reference
    include/tasks/data_warehouse.py:78 ``to_sql(if_exists="replace")``)."""
    w = df.write.mode("overwrite").format("jdbc").option("url", url).option(
        "dbtable", table
    )
    for k, v in (properties or {}).items():
        w = w.option(k, v)
    w.save()


def upsert_ignore(new: DataFrame, existing: DataFrame, keys: list[str]) -> DataFrame:
    """K4 semantics as a transform: ``INSERT ... ON CONFLICT DO
    NOTHING`` (reference include/tasks/yfinance_to_postgres.py:30-56)
    ≡ rows of ``new`` whose key is absent from ``existing``, with
    in-batch duplicates dropped first. Caller appends the result.

    Anti-join — at scale a broadcast of the existing KEY SET (not the
    rows), or a MERGE on a transactional table format.
    """
    deduped = new.dropDuplicates(keys)
    return deduped.join(existing.select(*keys), on=keys, how="left_anti")
