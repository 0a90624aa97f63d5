"""Window / analytic operators (SURVEY.md §2.5, W1-W5).

These reproduce the reference's pandas rolling/lag/cumprod semantics
with Spark window functions — the single place where pandas edge cases
(``min_periods=1``, first-row-null pct_change, cumprod null skipping)
need an explicitly deterministic Spark formulation.

Scale note: every function here partitions the window by a key column,
so Spark executes ONE hash shuffle on the key and then sorts within
partitions — no global sort, no driver materialization. With AQE on,
skewed keys are split at runtime. This is the redesign of the
reference's O(history)-per-minute single-process recompute
(reference include/tasks/data_warehouse.py:10-27).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _ordered_window(key: str | list[str], order: str | list[str]) -> Window:
    keys = [key] if isinstance(key, str) else key
    orders = [order] if isinstance(order, str) else order
    return Window.partitionBy(*keys).orderBy(*orders)


def rolling_mean(
    df: DataFrame,
    value_col: str,
    key: str | list[str],
    order: str | list[str],
    n: int,
    out: str,
) -> DataFrame:
    """Rolling mean over the last ``n`` rows per key, ``min_periods=1``.

    Reference semantics: ``groupby(key)[v].rolling(n, min_periods=1)
    .mean()`` (reference include/tasks/data_warehouse.py:18-19, the
    SMA-5/SMA-20 metrics). Spark's shrinking leading frame
    ``rowsBetween(-(n-1), 0)`` reproduces ``min_periods=1`` exactly:
    the first rows of each partition average over however many rows
    exist.
    """
    w = _ordered_window(key, order).rowsBetween(-(n - 1), 0)
    return df.withColumn(out, F.avg(value_col).over(w))


def pct_change(
    df: DataFrame,
    value_col: str,
    key: str | list[str],
    order: str | list[str],
    out: str,
) -> DataFrame:
    """Per-key 1-row percent change; first row per key is NULL.

    Reference: ``groupby(key)[v].pct_change()``
    (reference include/tasks/generate_dashboard.py:31 — daily returns).
    ``lag`` returns NULL for the first row and NULL/NULL division is
    NULL, which matches pandas' leading NaN. A zero previous value
    yields NULL (``try_divide``) — deliberate divergence from pandas'
    ``inf`` so the result is ANSI-safe and matches SQL ``x/0 → NULL``
    oracle semantics; documented in tests.
    """
    w = _ordered_window(key, order)
    prev = F.lag(value_col, 1).over(w)
    return df.withColumn(out, F.try_divide(F.col(value_col), prev) - F.lit(1.0))


def cumulative_return(
    df: DataFrame,
    return_col: str,
    key: str | list[str],
    order: str | list[str],
    out: str,
) -> DataFrame:
    """Cumulative compounded return: ``(1 + r).cumprod() - 1`` per key.

    Reference: reference include/tasks/generate_dashboard.py:32.
    pandas ``cumprod`` skips NaNs (skipna=True) but keeps NaN at the
    NaN positions themselves. Spark's ``product`` aggregate likewise
    ignores NULL inputs, so the running product over a leading frame
    matches pandas at non-null positions; we then re-null positions
    where the input return is NULL.
    """
    w = (
        _ordered_window(key, order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.product(F.lit(1.0) + F.col(return_col)).over(w) - F.lit(1.0)
    return df.withColumn(
        out, F.when(F.col(return_col).isNull(), F.lit(None)).otherwise(running)
    )
