"""Relational queries over the TPC-H-ish fixture tables: scans,
filters, projections, casts, null handling, joins, set ops, sorts
(SURVEY.md §2.1-2.3, §2.6-2.8).

ANSI note: the driver runs these under a stock Spark 4 session where
``spark.sql.ansi.enabled=true``, so every cast that may fail uses
``try_cast`` (≡ pandas ``errors="coerce"`` ≡ DuckDB ``TRY_CAST``) and
every division has a non-zero denominator by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.common import materialize
from ..operators.joins import hint_small
from ..tables import load_table
from . import register


@register(
    "filter_project",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
       round(l_extendedprice * (1 - l_discount), 6) AS net_price
FROM lineitem
WHERE l_returnflag = 'R' AND l_quantity > 25
""",
    survey="P1 P9 P10 S6",
    description="Equality + range filter, projection, derived "
    "arithmetic column (reference include/tasks/batch_ingestion.py:28 "
    "CODBDI==2 filter; data_processing.py:69-83 projection). Filter "
    "and column pruning push to the Parquet scan.",
)
def filter_project_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 25))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 6
            ).alias("net_price"),
        )
    )


@register(
    "in_list_filter",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_orderstatus = 'F'
""",
    survey="P2 P1",
    description="IN-list + equality filter (reference analytics_service/"
    "dashboard.py:103 isin(selected)).",
)
def in_list_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & (F.col("o_orderstatus") == "F")
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")


@register(
    "time_range_filter",
    oracle="""
SELECT o_orderkey, o_orderdate, o_totalprice
FROM orders
WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '2001-01-01 00:00:00'
""",
    survey="P3 P4 S5",
    description="Time-range predicate — the 40-day history window scan "
    "(reference include/tasks/data_warehouse.py:67-68). At scale this "
    "is the partition-pruning path: the warehouse is date-partitioned "
    "so the scan touches only in-range partitions.",
)
def time_range_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2001-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_orderdate", "o_totalprice")


@register(
    "cast_coerce_nulls",
    oracle="""
SELECT doc_id,
       TRY_CAST(lang AS DOUBLE) AS lang_num,
       TRY_CAST(split_part(text, ' ', 1) AS DOUBLE) AS first_tok_num,
       TRY_CAST(n_chars AS DOUBLE) AS n_chars_d
FROM documents
WHERE TRY_CAST(lang AS DOUBLE) IS NULL
""",
    survey="P5 P6 P7",
    description="Cast-with-null-on-error (pandas to_numeric(errors="
    "'coerce'), reference include/tasks/batch_ingestion.py:33-35) — "
    "try_cast under ANSI Spark ≡ DuckDB TRY_CAST.",
)
def cast_coerce_nulls_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    first_tok = F.split(F.col("text"), " ").getItem(0)
    return (
        d.select(
            "doc_id",
            F.col("lang").try_cast("double").alias("lang_num"),
            first_tok.try_cast("double").alias("first_tok_num"),
            F.col("n_chars").try_cast("double").alias("n_chars_d"),
        )
        .filter(F.col("lang_num").isNull())
    )


@register(
    "null_handling",
    oracle="""
WITH base AS (
  SELECT event_id, user_id,
         CASE WHEN value < 50 THEN NULL ELSE value END AS v
  FROM events
)
SELECT event_id, user_id,
       coalesce(v, 0.0) AS v_filled,
       CASE WHEN v IS NULL THEN 1 ELSE 0 END AS was_null
FROM base
""",
    survey="P7 P8 P13",
    description="Null drop/fill/coalesce-default family (reference "
    "dropna/fillna include/tasks/data_warehouse.py:16,24-25; dict "
    ".get(k, 0) data_processing.py:66-79).",
)
def null_handling_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        F.when(F.col("value") < 50, F.lit(None)).otherwise(F.col("value")).alias("v"),
    )
    return base.select(
        "event_id",
        "user_id",
        F.coalesce(F.col("v"), F.lit(0.0)).alias("v_filled"),
        F.when(F.col("v").isNull(), 1).otherwise(0).alias("was_null"),
    )


@register(
    "scalar_functions",
    oracle="""
SELECT event_id,
       regexp_replace(event_type, '\\.SA$', '') AS norm_type,
       split_part(event_type, 'r', 1) AS first_piece,
       strftime(ts, '%Y%m%d') AS ymd,
       strftime(ts, '%Y/%m/%d') AS ymd_slash,
       round(value, 1) AS value_r1,
       abs(value - 100) AS dist100,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k
FROM events
""",
    survey="F1 F2 F3 F6 F7 P12",
    description="Scalar surface: regex suffix strip (J2 key "
    "normalization, reference data_processing.py:55), split+first "
    "token (dashboard.py:117), date_format (batch_ingestion.py:49), "
    "JSON field extraction (every Kafka consumer), round/abs.",
)
def scalar_functions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_replace("event_type", r"\.SA$", "").alias("norm_type"),
        F.split(F.col("event_type"), "r").getItem(0).alias("first_piece"),
        F.date_format("ts", "yyyyMMdd").alias("ymd"),
        F.date_format("ts", "yyyy/MM/dd").alias("ymd_slash"),
        F.round("value", 1).alias("value_r1"),
        F.abs(F.col("value") - 100).alias("dist100"),
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


@register(
    "join_broadcast_dim",
    oracle="""
SELECT n.n_name AS nation, r.r_name AS region,
       count(*) AS n_customers,
       round(sum(c.c_acctbal), 6) AS total_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2
""",
    survey="J1 A7",
    description="Fact⋈dim⋈dim star join with broadcast dims + "
    "aggregation. The Spark plan must show BroadcastHashJoin for both "
    "dims — no shuffle of the fact side for the join.",
)
def join_broadcast_dim_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(hint_small(n), c.c_nationkey == n.n_nationkey)
        .join(hint_small(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 6).alias("total_acctbal"),
        )
    )


@register(
    "join_normalized_key",
    oracle="""
WITH dim AS (
  SELECT DISTINCT 'U' || CAST(user_id AS VARCHAR) || '.SA' AS sym,
         user_id * 1000 AS cap
  FROM events
)
SELECT e.user_id, count(*) AS n_events, max(d.cap) AS cap
FROM events e
JOIN dim d
  ON 'U' || CAST(e.user_id AS VARCHAR) = regexp_replace(d.sym, '\\.SA$', '')
GROUP BY e.user_id
""",
    survey="J2 F1",
    description="Join with key normalization: probe-side symbol "
    "stripped of its '.SA' exchange suffix before the equi-join "
    "(reference include/tasks/data_processing.py:55).",
)
def join_normalized_key_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import normalize_symbol

    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.select("user_id")
        .distinct()
        .select(
            F.concat(F.lit("U"), F.col("user_id").cast("string"), F.lit(".SA")).alias(
                "sym"
            ),
            (F.col("user_id") * 1000).alias("cap"),
        )
    )
    probe = ev.withColumn(
        "_key", F.concat(F.lit("U"), F.col("user_id").cast("string"))
    )
    dim_norm = dim.withColumn("_key", normalize_symbol("sym"))
    return (
        probe.join(dim_norm, "_key")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.max("cap").alias("cap"))
    )


@register(
    "semi_anti_join",
    oracle="""
SELECT c.c_custkey, c.c_name,
       CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS has_urgent_order
FROM customer c
LEFT JOIN (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') o
  ON c.c_custkey = o.o_custkey
""",
    survey="J1 extension (semi/anti)",
    description="Semi/anti-join surface: customers flagged by "
    "existence of an urgent order (left_semi ∪ left_anti expressed as "
    "one marker join; Catalyst plans EXISTS-style).",
)
def semi_anti_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the marker join the description always promised (r17, guide
    # §2.4): semi ∪ anti against the same build side scanned customer
    # AND orders twice each — a single left outer join against the
    # DISTINCT urgent-customer keys partitions every customer into
    # exactly one branch (matched ↔ semi, unmatched ↔ anti), so the
    # null-test marker is row-identical with half the scans
    # (scan pins customer/orders: 2 → 1). The semi/anti operator
    # surface itself stays exercised by the dedup family
    # (left_semi prefilters, drop_hot_buckets' left_anti).
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    urgent = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    return c.join(urgent, c.c_custkey == urgent.o_custkey, "left").select(
        "c_custkey",
        "c_name",
        F.when(F.col("o_custkey").isNotNull(), 1)
        .otherwise(0)
        .alias("has_urgent_order"),
    )


@register(
    "pricing_summary",
    oracle="""
WITH micro AS (
  SELECT l_returnflag, l_linestatus,
         CAST(floor(l_quantity * 1000000 + 0.5) AS BIGINT) AS q,
         CAST(floor(l_extendedprice * 1000000 + 0.5) AS BIGINT) AS p,
         CAST(floor(l_extendedprice * (1 - l_discount) * 1000000 + 0.5)
              AS BIGINT) AS dp,
         CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                    * 1000000 + 0.5) AS BIGINT) AS ch,
         CAST(floor(l_discount * 1000000 + 0.5) AS BIGINT) AS d
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
), sums AS (
  SELECT l_returnflag, l_linestatus,
         CAST(CAST(sum(q) AS BIGINT) AS DOUBLE) / 1000000 AS q,
         CAST(CAST(sum(p) AS BIGINT) AS DOUBLE) / 1000000 AS p,
         CAST(CAST(sum(dp) AS BIGINT) AS DOUBLE) / 1000000 AS dp,
         CAST(CAST(sum(ch) AS BIGINT) AS DOUBLE) / 1000000 AS ch,
         CAST(CAST(sum(d) AS BIGINT) AS DOUBLE) / 1000000 AS d,
         count(*) AS n
  FROM micro
  GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus,
       round(q, 6) AS sum_qty,
       round(p, 6) AS sum_base_price,
       round(dp, 6) AS sum_disc_price,
       round(ch, 6) AS sum_charge,
       floor(q / n * 1000000 + 0.5) / 1000000 AS avg_qty,
       floor(p / n * 1000000 + 0.5) / 1000000 AS avg_price,
       floor(d / n * 1000000 + 0.5) / 1000000 AS avg_disc,
       n AS count_order
FROM sums
""",
    survey="A7 P1 P3 (TPC-H Q1 pattern)",
    description="Pricing summary (TPC-H Q1 shape): wide aggregation "
    "with map-side partial aggregation — the headline scan+agg "
    "benchmark query. Each sum is exact and so independent of "
    "summation order: every per-row double is quantized half-up to "
    "whole millionths with floor(x*1e6 + 0.5), one IEEE expression "
    "both engines evaluate alike, and the millionths are summed as a "
    "BIGINT (an overflow raises under ANSI). A DECIMAL(38,6) sum, the "
    "`regional_revenue` recipe, gives the same values but its per-row "
    "decimal cast and wide buffer made this query 1.7x slower at "
    "sf0.01 and 6.4x at sf0.1. The averages are free quotients, so "
    "they round via the portable half-up floor(q*1e6 + 0.5)/1e6 of "
    "`tumbling_window_agg`, not round(), where Spark and DuckDB "
    "disagree at 7th-decimal ties.",
)
def pricing_summary_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    n = F.count(F.lit(1))

    def msum(c):
        return F.sum(F.floor(c * 1000000 + F.lit(0.5))).cast("double") / 1000000

    def mavg(c):
        return F.floor(msum(c) / n * 1000000 + F.lit(0.5)) / 1000000

    return (
        li.filter(
            F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp")
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(msum(F.col("l_quantity")), 6).alias("sum_qty"),
            F.round(msum(F.col("l_extendedprice")), 6).alias("sum_base_price"),
            F.round(msum(disc_price), 6).alias("sum_disc_price"),
            F.round(msum(disc_price * (1 + F.col("l_tax"))), 6).alias("sum_charge"),
            mavg(F.col("l_quantity")).alias("avg_qty"),
            mavg(F.col("l_extendedprice")).alias("avg_price"),
            mavg(F.col("l_discount")).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@register(
    "regional_revenue",
    oracle="""
SELECT r.r_name AS region, n.n_name AS nation,
       round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(38,6))) AS DOUBLE), 6) AS revenue,
       count(DISTINCT o.o_orderkey) AS n_orders
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1, 2
""",
    survey="J1 A7 (TPC-H Q5 pattern)",
    description="Multi-join star revenue rollup (TPC-H Q5 shape): "
    "fact⋈fact shuffle join on orderkey + broadcast dim chain — the "
    "headline multi-join benchmark; exercises Catalyst join reordering "
    "and AQE. Revenue accumulates in DECIMAL(38,6) — the per-row "
    "product is computed in double (identical IEEE both engines) then "
    "cast to decimal, so the SUM is order-independent and the hash "
    "matches the oracle at every scale (r8 scale-stable recipe, "
    "PARITY.md).",
)
def regional_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(hint_small(n), c.c_nationkey == n.n_nationkey)
        .join(hint_small(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(38,6)"
                    )
                ).cast("double"),
                6,
            ).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


@register(
    "shipping_priority",
    oracle="""
SELECT l.l_orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
LIMIT 10
""",
    survey="J1 A7 O4 (TPC-H Q3 pattern)",
    description="Shipping priority (TPC-H Q3 shape): selective "
    "filters on both join sides + top-10 by aggregated revenue with "
    "deterministic tie-break.",
)
def shipping_priority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue")
        )
        .orderBy(
            F.col("revenue").desc(),
            F.col("o_orderdate").asc(),
            F.col("l_orderkey").asc(),
        )
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "order_priority_check",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o_orderpriority
""",
    survey="J1 semi-join A7 (TPC-H Q4 pattern)",
    description="Order-priority check (TPC-H Q4 shape): correlated "
    "EXISTS as a left-semi join — the semi-join planned the way a "
    "100 TB engine must (no fact duplication).",
)
def order_priority_check_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == o.o_orderkey) & (li.l_shipdate > o.o_orderdate)
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "customer_order_histogram",
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
GROUP BY c_count
""",
    survey="J1 outer-join A7 (TPC-H Q13 pattern)",
    description="Customer order-count histogram (TPC-H Q13 shape): "
    "left outer join with a join-condition filter (kept OUT of the "
    "WHERE clause — outer semantics) + double aggregation.",
)
def customer_order_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cond = (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT")
    per_cust = (
        c.join(o, cond, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "multi_key_sort_limit",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
""",
    survey="O1 O2 O3 O4",
    description="Multi-key sort + limit (reference sort_values "
    "data_warehouse.py:11, ORDER BY+iloc[-1] patterns). "
    "TakeOrderedAndProject — no global sort materialization.",
)
def multi_key_sort_limit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
        .select("o_custkey", "o_orderkey", "o_totalprice", "o_orderdate")
    )


@register(
    "promotion_effect",
    oracle="""
SELECT strftime(l.l_shipdate, '%Y-%m') AS ship_month,
       round(100.0 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS promo_pct,
       count(*) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '2001-01-01 00:00:00'
GROUP BY 1
""",
    survey="J1 A7 (TPC-H Q14 pattern)",
    description="Promotion-revenue share by ship month (TPC-H Q14 "
    "shape): conditional aggregation ratio over a fact⋈dim join — "
    "part is the broadcast side, lineitem never shuffles for the "
    "join.",
)
def promotion_effect_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2001-01-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), net).otherwise(F.lit(0.0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(net), 6).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "small_order_quantity",
    oracle="""
WITH pa AS (
  SELECT l_partkey, sum(l_quantity) AS sq, count(*) AS cq
  FROM lineitem GROUP BY 1
)
SELECT p.p_brand,
       round(sum(l.l_extendedprice) / 7.0, 6) AS avg_yearly,
       count(*) AS n_small_lines
FROM lineitem l
JOIN pa ON l.l_partkey = pa.l_partkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE 5.0 * l.l_quantity * pa.cq < pa.sq
GROUP BY 1
""",
    survey="J1 A7 correlated-subquery (TPC-H Q17 pattern)",
    description="Small-quantity order revenue (TPC-H Q17 shape): the "
    "correlated per-part AVG subquery decorrelated into a groupBy + "
    "self-join — and the threshold rewritten multiplicatively "
    "(5·qty·cnt < sum) so both engines compare exact integer-valued "
    "doubles instead of ulp-sensitive averages.",
)
def small_order_quantity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    pa = li.groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("sq"), F.count(F.lit(1)).alias("cq")
    )
    pa = pa.select(F.col("l_partkey").alias("pa_partkey"), "sq", "cq")
    return (
        li.join(pa, li.l_partkey == pa.pa_partkey)
        .filter(5.0 * F.col("l_quantity") * F.col("cq") < F.col("sq"))
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 6).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small_lines"),
        )
    )


@register(
    "large_volume_customer",
    oracle="""
SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       round(sum(l.l_quantity), 6) AS total_qty
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY 1, 2, 3, 4
HAVING sum(l.l_quantity) > 300
""",
    survey="J1 A7 HAVING (TPC-H Q18 pattern)",
    description="Large-volume customers (TPC-H Q18 shape): "
    "post-aggregation HAVING filter over a two-fact join. Quantities "
    "are integer-valued doubles, so the >300 cut is exact in both "
    "engines.",
)
def large_volume_customer_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("_sq"))
        .filter(F.col("_sq") > 300)
        .select(
            "c_name", "o_orderkey", "o_orderdate", "o_totalprice",
            F.round("_sq", 6).alias("total_qty"),
        )
    )


@register(
    "top_supplier_revenue",
    oracle="""
WITH rev AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice * (1 - l_discount)), 6) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '2000-04-01 00:00:00'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, r.total_rev
FROM supplier s
JOIN rev r ON s.s_suppkey = r.l_suppkey
WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
""",
    survey="A7 scalar-subquery (TPC-H Q15 pattern)",
    description="Top supplier by quarterly revenue (TPC-H Q15 shape): "
    "scalar MAX subquery as a 1-row broadcast EQUI-join on the "
    "rounded revenue itself (BroadcastHashJoin — no global window, "
    "no single-partition funnel); equality is tested on round(·,6) "
    "revenue in both engines so cross-engine sum-order ulp noise "
    "can't flip the argmax.",
)
def top_supplier_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-04-01 00:00:00").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6)
        .alias("total_rev")
    ).transform(materialize)  # one aggregation feeds both branches
    mx = rev.agg(F.max("total_rev").alias("total_rev"))
    return (
        rev.join(hint_small(mx), "total_rev", "left_semi")
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


@register(
    "dormant_customers",
    oracle="""
WITH avg_bal AS (
  SELECT round(avg(c_acctbal), 2) AS a FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_nationkey, count(*) AS numcust,
       round(sum(c.c_acctbal), 6) AS totacctbal
FROM customer c CROSS JOIN avg_bal
WHERE c.c_acctbal > avg_bal.a
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
  )
GROUP BY 1
""",
    survey="J1 anti-join scalar-subquery (TPC-H Q22 pattern)",
    description="Dormant high-balance customers (TPC-H Q22 shape): "
    "scalar AVG threshold (rounded to cents on both sides — acctbal "
    "has cent granularity, so the cut is ulp-proof) + NOT EXISTS over "
    "the trailing year as a left-anti join, grouped by nation.",
)
def dormant_customers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.round(F.avg("c_acctbal"), 2).alias("a")
    )
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp")
    )
    return (
        c.crossJoin(hint_small(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 6).alias("totacctbal"),
        )
    )


@register(
    "min_cost_supplier",
    oracle="""
WITH unit AS (
  SELECT l_partkey, l_suppkey,
         min(l_extendedprice / l_quantity) AS min_unit
  FROM lineitem GROUP BY 1, 2
), ranked AS (
  SELECT l_partkey, l_suppkey, min_unit,
         row_number() OVER (
           PARTITION BY l_partkey ORDER BY min_unit, l_suppkey
         ) AS rn
  FROM unit
)
SELECT p.p_partkey, p.p_name,
       r.l_suppkey AS best_suppkey, s.s_name,
       floor(r.min_unit * 1000000 + 0.5) / 1000000 AS min_unit_price
FROM ranked r
JOIN part p     ON p.p_partkey = r.l_partkey
JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.rn = 1
""",
    survey="J1 W correlated-min (TPC-H Q2 pattern)",
    description="Cheapest supplier per part (TPC-H Q2 shape): the "
    "correlated min-supply-cost subquery decorrelated into a "
    "row_number window over per-(part,supplier) min unit price, "
    "suppkey tie-break. Spark side uses try_divide (ANSI) ≡ DuckDB "
    "null-on-zero division; unit prices are bit-identical in both "
    "engines so the rank order matches exactly. The displayed price "
    "rounds via the portable floor(x*1e6+0.5)/1e6 (r8 recipe, "
    "PARITY.md) — the engines' own round() disagrees on free "
    "quotients near decimal ties.",
)
def min_cost_supplier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    unit = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.try_divide(F.col("l_extendedprice"), F.col("l_quantity")))
        .alias("min_unit")
    )
    w = Window.partitionBy("l_partkey").orderBy("min_unit", "l_suppkey")
    best = unit.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.join(p, best.l_partkey == p.p_partkey)
        .join(s, best.l_suppkey == s.s_suppkey)
        .select(
            "p_partkey", "p_name",
            F.col("l_suppkey").alias("best_suppkey"), "s_name",
            (F.floor(F.col("min_unit") * 1000000 + F.lit(0.5)) / 1000000)
            .alias("min_unit_price"),
        )
    )


@register(
    "nation_trade_volume",
    oracle="""
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(strftime(l.l_shipdate, '%Y') AS BIGINT) AS ship_year,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue,
       count(*) AS n_lines
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
WHERE ns.n_nationkey <> nc.n_nationkey
GROUP BY 1, 2, 3
""",
    survey="J1 A7 (TPC-H Q7 pattern)",
    description="Cross-nation trade volume (TPC-H Q7 shape): "
    "supplier-nation x customer-nation x ship-year revenue over a "
    "two-fact join with the nation dim joined twice under different "
    "roles (both broadcast) and an inequality predicate between the "
    "two dim copies.",
)
def nation_trade_volume_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(hint_small(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(hint_small(nc), F.col("c_nationkey") == F.col("nc_key"))
        .filter(F.col("ns_key") != F.col("nc_key"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.date_format("l_shipdate", "yyyy").cast("long").alias("ship_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "returned_item_customers",
    oracle="""
SELECT c.c_custkey, c.c_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue,
       round(c.c_acctbal, 6) AS c_acctbal,
       n.n_name AS nation
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '2000-07-01 00:00:00'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""",
    survey="J1 A7 O4 (TPC-H Q10 pattern)",
    description="Returned-item revenue ranking (TPC-H Q10 shape): "
    "who returned the most value in a half-year window — selective "
    "fact filters, star join, top-20 with deterministic custkey "
    "tie-break (TakeOrderedAndProject, no global sort).",
)
def returned_item_customers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2000-07-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(hint_small(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey", "c_name", "revenue",
            F.round("c_acctbal", 6).alias("c_acctbal"),
            F.col("n_name").alias("nation"),
        )
    )


@register(
    "disjunctive_join_filter",
    oracle="""
SELECT round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(38,6))) AS DOUBLE), 6) AS revenue,
       count(*) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 1 AND l.l_quantity <= 20)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity >= 10 AND l.l_quantity <= 35)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity >= 20 AND l.l_quantity <= 50)
""",
    survey="J1 disjunctive predicate (TPC-H Q19 pattern)",
    description="Discounted revenue under an OR-of-ANDs predicate "
    "spanning both join sides (TPC-H Q19 shape) — the classic "
    "can't-push-it-all filter; the join stays a hash equi-join on "
    "partkey with the disjunction evaluated post-join, part side "
    "broadcast. Revenue accumulates in DECIMAL(38,6) (r8 "
    "scale-stable recipe, PARITY.md) — the single grand-total row "
    "sums a corpus-growing set, the case most exposed to double-SUM "
    "order drift (first observed drifting at sf0.1 in the r15 "
    "three-scale sweep).",
)
def disjunctive_join_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    arm = lambda brand, s0, s1, q0, q1: (
        (F.col("p_brand") == brand)
        & F.col("p_size").between(s0, s1)
        & (q >= q0) & (q <= q1)
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(
            arm("Brand#1", 1, 15, 1, 20)
            | arm("Brand#2", 10, 30, 10, 35)
            | arm("Brand#3", 20, 50, 20, 50)
        )
        .agg(
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(38,6)")
                ).cast("double"),
                6,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "sql_interface_revenue",
    oracle="""
WITH monthly AS (
  SELECT o_custkey,
         strftime(o_orderdate, '%Y-%m') AS order_month,
         sum(o_totalprice) AS month_total
  FROM orders
  GROUP BY 1, 2
)
SELECT o_custkey, order_month,
       round(month_total, 6) AS month_total,
       round(sum(month_total) OVER (
         PARTITION BY o_custkey ORDER BY order_month
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ), 6) AS running_total,
       CAST(rank() OVER (
         PARTITION BY o_custkey ORDER BY month_total DESC, order_month
       ) AS BIGINT) AS month_rank
FROM monthly
""",
    survey="S6 A7 W (SQL front end)",
    description="The spark.sql() text interface: the same engine "
    "surface through ANSI SQL over registered temp views (CTE + "
    "aggregation + running-sum and rank windows) — proves a user can "
    "bring SQL, not just the DataFrame DSL, and Catalyst plans both "
    "identically.",
)
def sql_interface_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        WITH monthly AS (
          SELECT o_custkey,
                 date_format(o_orderdate, 'yyyy-MM') AS order_month,
                 sum(o_totalprice) AS month_total
          FROM orders_v
          GROUP BY 1, 2
        )
        SELECT o_custkey, order_month,
               round(month_total, 6) AS month_total,
               round(sum(month_total) OVER (
                 PARTITION BY o_custkey ORDER BY order_month
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ), 6) AS running_total,
               CAST(rank() OVER (
                 PARTITION BY o_custkey ORDER BY month_total DESC, order_month
               ) AS BIGINT) AS month_rank
        FROM monthly
        """
    )


@register(
    "forecast_revenue",
    oracle="""
SELECT round(CAST(sum(CAST(l_extendedprice * l_discount
                           AS DECIMAL(38,6))) AS DOUBLE), 6)
         AS forecast_revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
    survey="P1 P3 A7 (TPC-H Q6 pattern)",
    description="Revenue-change forecast (TPC-H Q6 shape): tight "
    "range filters on three columns + one global aggregate. Every "
    "predicate pushes into the parquet scan; the aggregate is a "
    "map-side partial -> single-row exchange. Accumulates in "
    "DECIMAL(38,6) (r8 scale-stable recipe, PARITY.md): a 1-row "
    "grand total over a corpus-growing set is the exposure twin of "
    "disjunctive_join_filter, which measured double-SUM order drift "
    "at sf0.1 in the r15 sweep.",
)
def forecast_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * F.col("l_discount")).cast(
                        "decimal(38,6)"
                    )
                ).cast("double"),
                6,
            ).alias("forecast_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "shipmode_priority",
    oracle="""
SELECT CASE WHEN l.l_shipdate <= o.o_orderdate + INTERVAL 60 DAY
            THEN 'FAST' ELSE 'SLOW' END AS ship_class,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1
ORDER BY 1
""",
    survey="J1 A7 (TPC-H Q12 pattern; ship-lag class replaces the "
    "absent l_shipmode column)",
    description="Priority mix by shipping class (TPC-H Q12 shape, "
    "adapted: the fixture has no l_shipmode, so lines are classed "
    "FAST/SLOW by ship lag vs order date): fact-fact equi-join + "
    "dual conditional counts.",
)
def shipmode_priority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .withColumn(
            "ship_class",
            F.when(
                F.col("l_shipdate")
                <= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
                "FAST",
            ).otherwise("SLOW"),
        )
        .groupBy("ship_class")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


@register(
    "waiting_suppliers",
    oracle="""
WITH lo AS (
  SELECT l.l_orderkey, l.l_suppkey,
         (l.l_shipdate > o.o_orderdate + INTERVAL 365 DAY) AS late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
)
SELECT s.s_name, count(*) AS numwait
FROM lo l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE l1.late
  AND EXISTS (SELECT 1 FROM lo l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lo l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.late)
GROUP BY s.s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
""",
    survey="J1 A7 (TPC-H Q21 pattern; late = >365d ship lag replaces "
    "the absent receipt/commit dates)",
    description="Suppliers who kept finished orders waiting (TPC-H "
    "Q21 shape): the double correlated EXISTS / NOT EXISTS is "
    "decorrelated into one per-order aggregate — n_suppliers > 1 and "
    "exactly one late supplier — instead of two self-joins; the "
    "oracle keeps the textbook EXISTS form to pin equivalence.",
)
def waiting_suppliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lo = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 365 DAYS")
        ).alias("late"),
        # materialized: BOTH branches (the per-order distinct-supplier
        # aggregate and the late-row probe side) consume `lo`, and
        # unmaterialized each re-ran the lineitem scan + orders
        # broadcast join (plan held Scan parquet lineitem twice). The
        # cached frame is a 3-column projection — far narrower than
        # the raw table — so at scale one persist replaces a second
        # full fact-table scan + join.
    ).transform(materialize)
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    qual = per_order.filter(
        (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
    ).select("l_orderkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        lo.filter(F.col("late"))
        .join(qual, "l_orderkey")
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


@register(
    "market_share",
    oracle="""
WITH volumes AS (
  SELECT year(o.o_orderdate) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem l
  JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_type = 'ECONOMY'
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
  JOIN region r   ON r.r_regionkey = n1.n_regionkey AND r.r_name = 'AMERICA'
  WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
)
SELECT o_year,
       round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
             / sum(volume), 6) AS mkt_share
FROM volumes
GROUP BY o_year
ORDER BY o_year
""",
    survey="J1 A7 (TPC-H Q8 pattern)",
    description="National market share inside one region (TPC-H Q8 "
    "shape): a 7-table snowflake join where every dimension "
    "(part, supplier, nation x2, customer, region) broadcasts and "
    "the fact table never shuffles for a join; conditional-sum "
    "ratio per order year.",
)
def market_share_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    vol = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(hint_small(n2), F.col("s_nationkey") == F.col("s_nkey"))
        .join(c, o.o_custkey == c.c_custkey)
        .join(hint_small(n1), F.col("c_nationkey") == F.col("c_nkey"))
        .join(hint_small(r), F.col("c_rkey") == F.col("r_regionkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    return (
        vol.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(0.0)
                )
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "parts_supplier_stats",
    oracle="""
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'BRAND_1'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand ASC, p.p_type ASC, p.p_size ASC
""",
    survey="J1 A4 (TPC-H Q16 pattern; lineitem stands in for the "
    "absent partsupp table)",
    description="Supplier diversity per part segment (TPC-H Q16 "
    "shape): COUNT(DISTINCT supplier) per (brand, type, size) with a "
    "NOT IN anti-join excluding flagged suppliers; part broadcasts, "
    "the distinct shuffles (part-key, suppkey) pairs only.",
)
def parts_supplier_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "BRAND_1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(
            bad,
            li.l_suppkey == bad.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
    )


@register(
    "dominant_suppliers",
    oracle="""
WITH shipped AS (
  SELECT l.l_partkey, l.l_suppkey, sum(l.l_quantity) AS qty
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
  WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY l.l_partkey, l.l_suppkey
), totals AS (
  SELECT l_partkey, sum(qty) AS total_qty FROM shipped GROUP BY l_partkey
)
SELECT DISTINCT s.s_suppkey, s.s_name
FROM shipped sh
JOIN totals t ON t.l_partkey = sh.l_partkey
JOIN supplier s ON s.s_suppkey = sh.l_suppkey
WHERE sh.qty > 0.5 * t.total_qty
ORDER BY s.s_suppkey
""",
    survey="J1 A7 (TPC-H Q20 pattern; shipped quantity share stands "
    "in for the absent partsupp availqty)",
    description="Suppliers dominating a part's yearly PROMO shipments "
    "(>50% of the part's total — TPC-H Q20's correlated quantity "
    "threshold, decorrelated): two-level aggregate (per part-supplier, "
    "then per part) + ratio filter + semi-join back to supplier.",
)
def dominant_suppliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    shipped = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    totals = shipped.groupBy("l_partkey").agg(F.sum("qty").alias("total_qty"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        shipped.join(totals, "l_partkey")
        .filter(F.col("qty") > 0.5 * F.col("total_qty"))
        .join(s, shipped.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name")
        .distinct()
        .orderBy("s_suppkey")
    )


@register(
    "product_profit",
    oracle="""
SELECT n.n_name AS nation,
       year(o.o_orderdate) AS o_year,
       round(sum(l.l_extendedprice * (1 - l.l_discount)
                 - 0.6 * p.p_retailprice * l.l_quantity), 6) AS profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%red%'
GROUP BY n.n_name, year(o.o_orderdate)
""",
    survey="J1 A7 F (TPC-H Q9 pattern; 0.6*p_retailprice stands in "
    "for the absent partsupp ps_supplycost)",
    description="Product-line profit per supplier nation and order "
    "year (TPC-H Q9 shape): a five-table join where the substring "
    "filter on part prunes first, part/supplier/nation broadcast, and "
    "only the two facts shuffle on orderkey. Cost proxy "
    "0.6*p_retailprice*quantity replaces ps_supplycost (no partsupp "
    "fixture).",
)
def product_profit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(hint_small(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
                ),
                6,
            ).alias("profit")
        )
    )


@register(
    "important_parts",
    oracle="""
WITH pv AS (
  SELECT l.l_partkey AS partkey,
         sum(l.l_extendedprice * (1 - l.l_discount)) AS value
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_7'
  GROUP BY 1
)
SELECT partkey, round(value, 2) AS part_value
FROM pv
WHERE round(value, 2) > round(0.0012 * (SELECT sum(value) FROM pv), 2)
""",
    survey="A7 ext (TPC-H Q11 pattern; lineitem revenue stands in for "
    "the absent partsupp cost*availqty)",
    description="Parts representing a significant share of one "
    "nation's supply value (TPC-H Q11 shape): per-part aggregation "
    "compared against a scalar fraction of the global total — both "
    "sides rounded to cents so a last-bit double difference can never "
    "flip the threshold between engines. One aggregation feeds both "
    "the rows and the scalar (self-referencing CTE); at scale the "
    "scalar is a one-row broadcast, not a second scan.",
)
def important_parts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_7"
    )
    pv = (
        li.join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(hint_small(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "value"
            )
        )
        .transform(materialize)  # one aggregation feeds both branches
    )
    total = pv.agg(F.sum("value").alias("t"))
    return (
        pv.crossJoin(hint_small(total))
        .filter(F.round("value", 2) > F.round(0.0012 * F.col("t"), 2))
        .select("partkey", F.round("value", 2).alias("part_value"))
    )
