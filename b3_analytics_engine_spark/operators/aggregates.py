"""Aggregation / dedup operators (SURVEY.md §2.4, A1-A8).

The reference's upsert emulation is ``concat → drop_duplicates(keep=
'last')`` (reference include/tasks/data_warehouse.py:73-74), whose
result depends on concat order. The rebuild makes that priority
EXPLICIT — `keep_last_dedup` takes a priority column — because Spark's
``dropDuplicates`` keeps an arbitrary row and a 100 TB merge must be
deterministic and re-runnable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def keep_last_dedup(
    df: DataFrame,
    keys: list[str],
    priority: Column | list[Column],
) -> DataFrame:
    """Deterministic keep-last dedup (A1): one row per key, the row with
    the HIGHEST priority wins.

    ``priority`` is typically ``[col("_src_priority"), col("ts")]`` —
    new-batch rows beat history, later timestamps beat earlier. This is
    the idempotent-merge primitive the streaming warehouse sink uses
    (replaces the reference's order-dependent pandas keep='last').
    """
    prios = priority if isinstance(priority, list) else [priority]
    w = Window.partitionBy(*keys).orderBy(*[p.desc() for p in prios])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def top_k_global(df: DataFrame, metric: Column, k: int = 1) -> DataFrame:
    """Whole-frame argmax/top-k (A3): ``idxmax``-style top row(s) by a
    metric (reference analytics_service/dashboard.py:143,158,169).

    ``orderBy(desc).limit(k)`` compiles to TakeOrderedAndProject — a
    per-partition top-k + driver merge, NOT a global sort; O(k) memory
    per partition at any scale.
    """
    return df.orderBy(metric.desc()).limit(k)


def distinct_sorted(df: DataFrame, col: str) -> DataFrame:
    """``sorted(df[col].unique())`` (A4,
    reference analytics_service/dashboard.py:73)."""
    return df.select(col).distinct().orderBy(col)


def corr_matrix(df: DataFrame, cols: list[str], round_to: int | None = None) -> DataFrame:
    """Pairwise Pearson correlation matrix (A5) over numeric columns,
    pairwise-complete like ``pandas.DataFrame.corr``
    (reference include/tasks/generate_dashboard.py:53).

    One single-pass aggregation computes all N² ``corr`` cells (Spark's
    ``corr`` aggregate already ignores rows where either side is NULL —
    exactly pairwise-complete). Output is long-form
    ``(col_a, col_b, corr)`` — friendlier to downstream SQL than a
    wide matrix, and trivially pivotable.
    """
    cells = []
    for a in cols:
        for b in cols:
            c = F.corr(F.col(a), F.col(b))
            if round_to is not None:
                c = F.round(c, round_to)
            cells.append(c.alias(f"{a}__{b}"))
    wide = df.agg(*cells)
    # unpivot N² cells → long form via stack
    stack_args = ", ".join(f"'{a}', '{b}', `{a}__{b}`" for a in cols for b in cols)
    n = len(cols) * len(cols)
    return wide.selectExpr(
        f"stack({n}, {stack_args}) as (col_a, col_b, corr)"
    )


def partial_aggregates(
    df: DataFrame, keys: list[str], value_col: str
) -> DataFrame:
    """Algebraic per-key partials ``(cnt, s, mn, mx)`` — the stored
    state of an incrementally-maintained rollup.

    The reference maintains its warehouse by re-reading 40 days of
    raw history and recomputing every metric each minute (reference
    include/tasks/data_warehouse.py:67-78). The scalable alternative:
    persist these partials and fold each new micro-batch in with
    :func:`merge_partial_aggregates` — work proportional to the batch,
    not the history. Count/sum/min/max (and anything algebraic —
    sum-of-squares for variance, HLL sketches for distincts) merge
    exactly; medians/exact-distincts do not, which is why the partial
    schema is explicit instead of "whatever the query computed".
    """
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(value_col).alias("s"),
        F.min(value_col).alias("mn"),
        F.max(value_col).alias("mx"),
    )


def merge_partial_aggregates(
    parts: list[DataFrame], keys: list[str]
) -> DataFrame:
    """Fold partial-aggregate tables into one: counts and sums add,
    mins/maxes fold — the same combine step Spark's own partial
    aggregation runs map-side, lifted to cross-batch granularity.
    Union'd partials re-group on the SAME keys, so with the stored
    partials already hash-partitioned by key the merge shuffles only
    the incoming batch's partials."""
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy(*keys).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("s").alias("s"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )
