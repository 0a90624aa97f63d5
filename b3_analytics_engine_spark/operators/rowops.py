"""Row-level operators: filters, casts, null handling, derived columns
(SURVEY.md §2.2, P1-P13).

All pure Column/DataFrame expressions — zero Python UDFs — so every one
stays inside whole-stage codegen and pushes down to the Parquet scan
where Catalyst allows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def numeric_cast_coerce(df: DataFrame, cols: list[str], dtype: str = "double") -> DataFrame:
    """``pd.to_numeric(errors="coerce")`` equivalent: cast with
    null-on-error (reference include/tasks/batch_ingestion.py:33-35,
    include/tasks/data_warehouse.py:13-15). ``try_cast`` yields NULL
    for malformed input under BOTH ANSI and legacy mode — identical
    semantics to pandas coerce.
    """
    for c in cols:
        df = df.withColumn(c, F.col(c).try_cast(dtype))
    return df


def parse_timestamp(df: DataFrame, col: str, fmt: str | None = None) -> DataFrame:
    """``pd.to_datetime(errors="coerce")`` equivalent
    (reference include/tasks/batch_ingestion.py:40,
    include/tasks/data_warehouse.py:63). ``to_timestamp`` yields NULL
    on parse failure, matching coerce."""
    expr = F.to_timestamp(F.col(col), fmt) if fmt else F.to_timestamp(F.col(col))
    return df.withColumn(col, expr)


def drop_null(df: DataFrame, subset: list[str]) -> DataFrame:
    """``dropna(subset=...)`` (reference include/tasks/batch_ingestion.py:37)."""
    return df.na.drop(subset=subset)


def falsy_guarded_diff(a: str, b: str) -> Column:
    """``close - open`` but 0 when either operand is falsy (None or 0) —
    the reference's change_day guard
    (reference include/tasks/data_processing.py:80-81 uses Python
    truthiness, so open==0.0 triggers the default, not just NULL).
    """
    falsy = (
        F.col(a).isNull()
        | (F.col(a) == 0)
        | F.col(b).isNull()
        | (F.col(b) == 0)
    )
    return F.when(falsy, F.lit(0.0)).otherwise(F.col(a) - F.col(b))


def turnover_ratio(volume: str, close: str, market_cap: str) -> Column:
    """``volume * close / marketCap``
    (reference include/tasks/data_warehouse.py:21-22). NULL on zero
    market cap (ANSI-safe; SQL ``x/0 → NULL`` oracle semantics)."""
    return F.try_divide(F.col(volume) * F.col(close), F.col(market_cap))


def to_sao_paulo(ts: str) -> Column:
    """UTC-naive → America/Sao_Paulo wall time
    (reference analytics_service/dashboard.py:48-51: tz_localize('UTC')
    .tz_convert('America/Sao_Paulo')). Session TZ is pinned UTC, so
    ``from_utc_timestamp`` reproduces the wall-clock shift."""
    return F.from_utc_timestamp(F.col(ts), "America/Sao_Paulo")


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str],
    include_unchanged: bool = False,
) -> DataFrame:
    """CDC-style diff between two snapshots of the same keyed table:
    one row per key classified ``added`` / ``removed`` / ``changed``
    (/ ``unchanged``), with ``old_<c>`` / ``new_<c>`` value pairs.

    The reference re-publishes its whole warehouse every minute
    (reference include/tasks/data_warehouse.py:78) — consumers can't
    tell what changed. This operator derives the change feed: a
    full-outer join on the keys, comparison null-safely (``<=>``) on
    the tracked columns. At 100 TB both snapshots shuffle once on the
    key (or not at all if they share a bucketed layout); the compare
    is per-row, no second pass.
    """
    o = old.select(
        *keys, *[F.col(c).alias(f"old_{c}") for c in compare_cols]
    ).withColumn("_in_old", F.lit(1))
    n = new.select(
        *keys, *[F.col(c).alias(f"new_{c}") for c in compare_cols]
    ).withColumn("_in_new", F.lit(1))
    joined = o.join(n, keys, "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    out = joined.select(
        *keys,
        F.when(F.col("_in_old").isNull(), "added")
        .when(F.col("_in_new").isNull(), "removed")
        .when(~same, "changed")
        .otherwise("unchanged")
        .alias("change_type"),
        *[F.col(f"old_{c}") for c in compare_cols],
        *[F.col(f"new_{c}") for c in compare_cols],
    )
    if not include_unchanged:
        out = out.filter(F.col("change_type") != "unchanged")
    return out
